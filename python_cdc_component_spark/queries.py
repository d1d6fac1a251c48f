"""Declared query inventory: Spark builder + DuckDB oracle SQL per operator.

This is the driver-facing catalog backing ``__spark_entry__.py``
(queries()/oracle_sql()). Each entry exercises one operator family from
SURVEY §2 (or a beyond-reference LLM-pipeline operator) end-to-end over
the driver testdata, and carries an ANSI-SQL oracle with IDENTICAL
column aliases.

Determinism rules used throughout (so Spark and DuckDB hash-match):
- money/measure sums go through exact DECIMAL accumulation (double →
  decimal(18,6) per row, exact decimal sum, final cast to double) —
  never a float sum whose value depends on partition order;
- averages = decimal-sum-cast-double / count (double division of
  identical operands);
- top-k uses an explicit deterministic tie-break key;
- every md5/string function used exists with identical semantics in
  both engines (verified by scripts/check_oracle.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .caching import persist_once
from .model.envelope import SYSTEM_COLUMNS as SC
from .operators.dedup import dedup_latest, chunked_dedup
from .operators.schema_align import union_epochs
from .sources.events import read_cdc_events, read_events, read_table

# ---------------------------------------------------------------------------
# helpers

DEC = "decimal(18,6)"


def _dec_sum(col: F.Column, alias: str) -> F.Column:
    """Exact distributed sum: per-row cast to decimal (order-independent),
    decimal accumulation (exact), result as double."""
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


def _spark(spark: SparkSession) -> SparkSession:
    # Event-time determinism across engines (duckdb is UTC-naive).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a scan up to core count, but ONLY when it arrives
    under-split (a small single-file parquet input serializes
    compute-bound text kernels onto one core).  At real scale the scan
    already has plenty of splits and the unconditional form pays a full
    extra shuffle of the raw text — the measured r2 tfidf +45 %
    regression.  The decision is a driver-side file-metadata peek
    (``inputFiles`` + local sizes, ~0.1 s, no RDD conversion, no job);
    on a non-local filesystem it trusts the scan's own splitting.
    Project to the needed columns BEFORE calling so the spread shuffle
    carries only them."""
    import os
    from urllib.parse import unquote, urlparse

    p = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= p:
        return df
    splits = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return df           # remote fs: scan splitting is fine
        try:
            size = os.path.getsize(unquote(u.path))
        except OSError:
            return df
        splits += max(1, -(-size // (128 << 20)))   # maxPartitionBytes
        if splits >= p:
            return df
    return df.repartition(p)


# The replay op-derivation convention (sources/events.py) in oracle SQL.
_OP_SQL = ("CASE WHEN event_type = 'signup' THEN 'c' "
           "WHEN event_type = 'error' THEN 'd' ELSE 'u' END")

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# ---------------------------------------------------------------------------
# CDC core (SURVEY §2: W1/W2/J1/P2/T7/T9, F-series)

@query("cdc_dedup_latest", f"""
SELECT user_id, event_type, "value", props,
       {_OP_SQL} AS kbc__operation,
       epoch_ms(ts) AS kbc__event_timestamp,
       event_id AS kbc__pos,
       (event_type = 'error') AS kbc__deleted
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
    ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
""")
def cdc_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 ranking-window dedup — the reference's core query
    (staging.py:250-256): latest event per PK."""
    ev = read_cdc_events(_spark(spark), sf_dir)
    out = dedup_latest(ev, ["user_id"])
    return out.select(
        "user_id", "event_type", "value", "props",
        F.col(SC.operation).alias("kbc__operation"),
        F.col(SC.event_timestamp).alias("kbc__event_timestamp"),
        F.col(SC.pos).alias("kbc__pos"),
        F.col(SC.deleted).alias("kbc__deleted"))


@query("cdc_dedup_composite_key", """
SELECT user_id, event_type, "value", event_id AS kbc__pos
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
    ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
""")
def cdc_dedup_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 with a composite PK (multi-column PARTITION BY)."""
    ev = read_cdc_events(_spark(spark), sf_dir)
    out = dedup_latest(ev, ["user_id", "event_type"])
    return out.select("user_id", "event_type", "value",
                      F.col(SC.pos).alias("kbc__pos"))


@query("cdc_current_state", f"""
SELECT user_id, event_type, "value", event_id AS kbc__pos
FROM (
  SELECT *, {_OP_SQL} AS op FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
      ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
) WHERE op <> 'd'
""")
def cdc_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 soft-delete semantics: current state = latest per PK, dropping
    keys whose last event is a delete (the hard-delete *view* over the
    soft-deleted compacted table)."""
    ev = read_cdc_events(_spark(spark), sf_dir)
    out = dedup_latest(ev, ["user_id"]).filter(~F.col(SC.deleted))
    return out.select("user_id", "event_type", "value",
                      F.col(SC.pos).alias("kbc__pos"))


@query("cdc_append", f"""
SELECT user_id, event_type, "value", props,
       {_OP_SQL} AS "KBC__OPERATION",
       epoch_ms(ts) AS "KBC__EVENT_TIMESTAMP_MS",
       event_id AS "KBC__POS",
       (event_type = 'error') AS "KBC__DELETED",
       event_id AS "KBC__BATCH_EVENT_ORDER"
FROM events
""")
def cdc_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 APPEND mode: passthrough with output system columns
    (component.py:61-75 naming; no dedup)."""
    from .engine import to_output_columns
    ev = read_cdc_events(_spark(spark), sf_dir)
    return to_output_columns(ev).select(
        "user_id", "event_type", "value", "props",
        "KBC__OPERATION", "KBC__EVENT_TIMESTAMP_MS", "KBC__POS",
        "KBC__DELETED", "KBC__BATCH_EVENT_ORDER")


@query("cdc_chunked_dedup", """
WITH bounds AS (SELECT (MIN(event_id) + MAX(event_id)) // 2 AS mid FROM events),
c0 AS (SELECT * FROM events WHERE event_id < (SELECT mid FROM bounds)),
c1 AS (SELECT * FROM events WHERE event_id >= (SELECT mid FROM bounds)),
d0 AS (SELECT user_id, event_id FROM c0
       QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1),
d1 AS (SELECT user_id, event_id FROM c1
       QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1),
s0 AS (SELECT d0.user_id, d0.event_id FROM d0
       LEFT JOIN d1 ON d0.user_id = d1.user_id WHERE d1.user_id IS NULL)
SELECT user_id, event_id AS kbc__pos FROM s0
UNION ALL
SELECT user_id, event_id AS kbc__pos FROM d1
""")
def cdc_chunked_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+J1: map-reduce chunked dedup (per-chunk window + left-anti
    suppression of keys reappearing in later chunks, staging.py:216-282).
    Semantically equals the single global window; kept as its own operator
    to prove the reverse-order suppression semantics."""
    ev = read_cdc_events(_spark(spark), sf_dir)
    mn, mx = ev.agg(F.min(SC.pos), F.max(SC.pos)).collect()[0]
    mid = (mn + mx) // 2
    chunks = [ev.filter(F.col(SC.pos) < mid), ev.filter(F.col(SC.pos) >= mid)]
    out = chunked_dedup(chunks, ["user_id"],
                        order_by=[F.col(SC.pos).desc()])
    return out.select("user_id", F.col(SC.pos).alias("kbc__pos"))


@query("cdc_no_pkey_dedup", """
SELECT user_id, event_type, "value", props, MAX(event_id) AS kbc__pos
FROM events
GROUP BY user_id, event_type, "value", props
""")
def cdc_no_pkey_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-PK dedup: key = all payload columns (component.py:406-408);
    collapses exact-duplicate payloads keeping the latest event order."""
    ev = read_cdc_events(_spark(spark), sf_dir)
    return (ev.groupBy("user_id", "event_type", "value", "props")
              .agg(F.max(SC.pos).alias("kbc__pos")))


@query("cdc_schema_align_union", """
WITH bounds AS (SELECT (MIN(event_id) + MAX(event_id)) // 2 AS mid FROM events)
SELECT user_id, event_type, "value", CAST(NULL AS VARCHAR) AS props,
       event_id AS kbc__pos
FROM events WHERE event_id < (SELECT mid FROM bounds)
UNION ALL
SELECT user_id, event_type, "value", props, event_id AS kbc__pos
FROM events WHERE event_id >= (SELECT mid FROM bounds)
""")
def cdc_schema_align_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/T4/T5 schema-drift union: epoch 1 lacks the later-added ``props``
    column; unionByName(allowMissingColumns) NULL-pads it
    (staging.py:299-317 NULL-padding projection)."""
    ev = read_cdc_events(_spark(spark), sf_dir)
    mn, mx = ev.agg(F.min(SC.pos), F.max(SC.pos)).collect()[0]
    mid = (mn + mx) // 2
    epoch1 = (ev.filter(F.col(SC.pos) < mid)
                .select("user_id", "event_type", "value",
                        F.col(SC.pos).alias("kbc__pos")))
    epoch2 = (ev.filter(F.col(SC.pos) >= mid)
                .select("user_id", "event_type", "value", "props",
                        F.col(SC.pos).alias("kbc__pos")))
    out = union_epochs([epoch1, epoch2])
    return out.select("user_id", "event_type", "value", "props", "kbc__pos")


@query("cdc_scalar_funcs", """
SELECT event_id AS kbc__pos,
       concat_ws('|', CAST(user_id AS VARCHAR), event_type) AS pk_tmp,
       strftime(ts, '%Y-%m-%d') AS event_date,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
       md5(event_type) AS etype_md5,
       make_timestamp(epoch_us(ts)) AS ts_roundtrip,
       upper(event_type) AS etype_upper
FROM events
""")
def cdc_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface F1-F10: composite-key synthesis
    (concat_ws, staging.py:242), temporal decode round-trip
    (AbstractDbConverter.java:105-110), JSON field extraction
    (DbChangeConsumer.java:164-229), hashing, case normalization."""
    ev = read_events(_spark(spark), sf_dir)
    return ev.select(
        F.col("event_id").alias("kbc__pos"),
        F.concat_ws("|", F.col("user_id").cast("string"),
                    F.col("event_type")).alias("pk_tmp"),
        # ISO date string, the reference's F3 epoch-day→ISO decode
        # (AbstractDbConverter.java:105-108).
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.md5(F.col("event_type").cast("binary")).alias("etype_md5"),
        F.timestamp_micros(F.unix_micros("ts")).alias("ts_roundtrip"),
        F.upper("event_type").alias("etype_upper"))


@query("events_windowed_agg", """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""")
def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over event time (the batch shape of the
    Structured Streaming windowed agg in streaming/)."""
    ev = read_events(_spark(spark), sf_dir)
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   _dec_sum(F.col("value"), "sum_value")))


# ---------------------------------------------------------------------------
# Relational suite (free on Spark per SURVEY §2.4/§2.5 "none in reference";
# these are the bench headliners proving the engine's general query surface)

@query("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary. Plan: parquet scan with pushed
    timestamp filter → partial hash agg → exchange → final agg (map-side
    combine keeps the shuffle tiny at any scale).  The eight exact
    decimal sums are compute-bound, so an under-split single-file scan
    (3 partitions at bench scale) serializes the partial agg onto three
    cores — ``_spread`` repartitions the filtered 6-column projection
    up to core count (conditional: a no-op at real scale, where the
    scan already has ≥ cores splits; measured 1.47 → 0.82 s warm)."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    li = li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
    li = _spread(li.select("l_returnflag", "l_linestatus", "l_quantity",
                           "l_extendedprice", "l_discount", "l_tax"), s)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
        _dec_sum(disc_price, "sum_disc_price"),
        _dec_sum(charge, "sum_charge"),
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / cnt).alias("avg_qty"),
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / cnt).alias("avg_price"),
        (F.sum(F.col("l_discount").cast(DEC)).cast("double") / cnt).alias("avg_disc"),
        cnt.alias("count_order")))


@query("q3_shipping_priority", """
SELECT o_orderkey,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped join + agg + top-k. customer is broadcast (small
    dim); lineitem⨝orders shuffles on the order key. Deterministic
    tie-break on o_orderkey."""
    s = _spark(spark)
    cust = read_table(s, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = read_table(s, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-30 00:00:00").cast("timestamp"))
    li = read_table(s, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-30 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
              .agg(_dec_sum(disc_price, "revenue"))
              .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
              .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
              .limit(10))


@query("q5_nation_revenue", """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
""")
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join: all dimension tables broadcast; the
    only shuffle is lineitem⨝orders. Catalyst + AQE pick broadcast-hash
    automatically below the threshold; we hint explicitly so the plan
    survives a 100× fact-table scale-up."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    orders = read_table(s, sf_dir, "orders")
    cust = read_table(s, sf_dir, "customer")
    supp = read_table(s, sf_dir, "supplier")
    nation = read_table(s, sf_dir, "nation")
    region = read_table(s, sf_dir, "region")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(supp),
                    (li.l_suppkey == supp.s_suppkey)
                    & (cust.c_nationkey == supp.s_nationkey))
              .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
              .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
              .groupBy("n_name")
              .agg(_dec_sum(disc_price, "revenue")))


@query("q6_revenue_delta", """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
""")
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped selective scan-agg: every predicate pushes to the
    parquet scan (PushedFilters), zero shuffle (single global agg)."""
    li = read_table(_spark(spark), sf_dir, "lineitem")
    f = (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                   & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
                   & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.06)
                   & (F.col("l_quantity") < 24)))
    return f.agg(_dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
                 F.count(F.lit(1)).alias("n_rows"))


@query("top_k_orders", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""")
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — per-partition heaps, no
    global sort. Deterministic tie-break on the key."""
    return (read_table(_spark(spark), sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(10))


# ---------------------------------------------------------------------------
# LLM training-data pipeline operators (beyond-reference; BASELINE.json
# north star). documents / embeddings tables.

_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = "('" + "', '".join(_STOPWORDS) + "')"


@query("text_token_stats", """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_calc,
       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_token_len
FROM documents
""")
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) — all JVM-side functions, no
    UDF; at 100 TB this is a pure map stage."""
    d = read_table(_spark(spark), sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    return d.select(
        "doc_id", n.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        ((F.length("text") - (n - 1)).cast("double") / n).alias("avg_token_len"))


@query("text_quality", f"""
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(COALESCE(SUM(CASE WHEN t IN {_STOP_SQL} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_stop,
       CAST(COALESCE(SUM(CASE WHEN t IN {_STOP_SQL} THEN 1 ELSE 0 END), 0) AS DOUBLE)
         / COUNT(*) AS stop_ratio
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
GROUP BY doc_id
""")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword-ratio signal (explode → agg; the shuffle
    keys on doc_id and AQE coalesces the tiny post-agg partitions)."""
    d = read_table(_spark(spark), sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    n_stop = F.coalesce(
        F.sum(F.when(F.col("t").isin(*_STOPWORDS), 1).otherwise(0)), F.lit(0))
    return (t.groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_tokens"),
                  n_stop.alias("n_stop"),
                  (n_stop.cast("double") / F.count(F.lit(1))).alias("stop_ratio")))


@query("text_fingerprint", """
SELECT doc_id,
       md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS fp
FROM documents
""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: order-insensitive content hash (sorted-token
    md5) — the canonical-form trick used for near-dup blocking."""
    d = read_table(_spark(spark), sf_dir, "documents")
    canon = F.array_join(F.array_sort(F.split(F.lower(F.col("text")), " ")), " ")
    return d.select("doc_id", F.md5(canon.cast("binary")).alias("fp"))


@query("exact_dedup_docs", """
SELECT md5(text) AS content_hash, MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY md5(text)
""")
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content; representative = min doc_id.
    One shuffle on the 128-bit hash — uniform keys, no skew at any scale."""
    d = read_table(_spark(spark), sf_dir, "documents")
    return (d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
             .agg(F.min("doc_id").alias("rep_doc_id"),
                  F.count(F.lit(1)).alias("dup_count")))


@query("boilerplate_ngrams", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram FROM idx)
SELECT gram, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS occurrences
FROM sh GROUP BY gram
ORDER BY df DESC, gram LIMIT 20
""")
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate phrase mining: the top word-3-grams by DOCUMENT
    frequency — the analytical twin of the hybrid dedup's exact-group
    collapse (operators/llm/hybrid.py): phrases shared by many docs are
    the template/license/error-page signal a curation pipeline caps or
    strips before near-dup runs. One explode + one uniform-key gram
    shuffle with map-side partial aggregation; the top-k is a
    TakeOrderedAndProject (per-partition heaps, no global sort), so the
    plan is two exchanges at any corpus size. Deterministic total
    order: (df DESC, gram) — ties resolve lexicographically."""
    d = read_table(_spark(spark), sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t"))
    gram = F.expr("transform(sequence(1, size(t) - 2), "
                  "i -> array_join(slice(t, i, 3), ' '))")
    grams = (t.filter(F.size("t") >= 3)
              .select("doc_id", F.explode(gram).alias("gram")))
    return (grams.groupBy("gram")
            .agg(F.count_distinct("doc_id").alias("df"),
                 F.count(F.lit(1)).alias("occurrences"))
            .orderBy(F.col("df").desc(), "gram").limit(20))


@query("domain_cap_keep", """
SELECT source, doc_id, n_tokens, rank FROM (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS rank
  FROM documents) WHERE rank <= 10
""")
def domain_cap_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: keep the top-10 docs per source ranked by a
    quality proxy (token count; min doc_id tie-break) — the
    CommonCrawl-style per-domain quota that stops one crawled host
    from dominating the training mix. One source-keyed shuffle;
    WindowGroupLimit pushes the per-group top-k into partial heaps
    before the exchange, so skewed giant domains never materialize
    their full membership."""
    d = read_table(_spark(spark), sf_dir, "documents")
    n = F.size(F.split("text", " ")).cast("long")
    w = Window.partitionBy("source").orderBy(
        F.size(F.split("text", " ")).desc(), F.col("doc_id"))
    return (d.select("source", "doc_id", n.alias("n_tokens"),
                     F.row_number().over(w).cast("long").alias("rank"))
             .filter(F.col("rank") <= 10))


@query("text_langid", """
SELECT doc_id,
       CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
         / length(text) AS vowel_ratio,
       CASE WHEN CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
                 / length(text) >= 0.30 THEN 'en'
            WHEN CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
                 / length(text) >= 0.25 THEN 'es'
            ELSE 'other' END AS lang_pred
FROM documents
""")
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram heuristic (vowel-density variant): a stand-in
    deterministic classifier whose Spark and SQL forms must agree — the
    real models plug in as pandas UDFs behind the same column contract."""
    d = read_table(_spark(spark), sf_dir, "documents")
    vr = (F.length(F.regexp_replace(F.lower(F.col("text")), "[^aeiou]", ""))
          .cast("double") / F.length("text"))
    return d.select(
        "doc_id", vr.alias("vowel_ratio"),
        F.when(vr >= 0.30, "en").when(vr >= 0.25, "es")
         .otherwise("other").alias("lang_pred"))


# Universal-hash family for minhash: one md5 per shingle → 28-bit int v,
# then h_j = (A_j·v + B_j) mod P. 16× cheaper than 16 independent md5
# passes, and the affine family keeps the permutations independent.
# Constants are fixed (seeded) primes/odd multipliers < 2^30 so A·v fits
# int64 in both engines (no overflow divergence). Core lives in
# operators/llm/minhash.py (shared with the streaming LSH index).
from .operators.llm.minhash import (MINHASH_P as _MINHASH_P,   # noqa: E402
                                    MINHASH_AB as _MINHASH_AB)


def _minhash_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared minhash signature builder (core: operators/llm/minhash.py
    — word-3-gram shingles → 28-bit md5-prefix hash → per-doc min of 16
    affine universal hashes; one data shuffle on doc_id with map-side
    partial mins) plus a conditional spread of the RAW text first:
    shingling+md5 is compute-bound, and a small parquet input arrives
    as one partition — without the spread the whole hash pipeline
    serializes onto one core (input-split remedy,
    scripts/bench_scale_curve.py); when the scan already has >= cores
    partitions no shuffle is paid."""
    from .operators.llm.minhash import minhash_signatures
    d = _spread(read_table(spark, sf_dir, "documents")
                .select("doc_id", "text"), spark)
    return minhash_signatures(d)


_MINHASH_SIG_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh FROM idx),
hv AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 7))::BIGINT AS v FROM sh)
SELECT doc_id,
  {mins}
FROM hv GROUP BY doc_id
"""


_MINHASH_MINS = ",\n  ".join(
    f"MIN(({a} * v + {b}) % {_MINHASH_P}) AS h{j}"
    for j, (a, b) in enumerate(_MINHASH_AB))


@query("minhash_signatures", _MINHASH_SIG_SQL.format(mins=_MINHASH_MINS))
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 affine universal-hash permutations over one
    md5 per shingle) — stage 1 of near-dup detection. Explode-then-agg;
    the shuffle carries only (doc_id, 16×8B) after map-side partial min."""
    return _minhash_sig_df(_spark(spark), sf_dir)


_LSH_BANDS = 4  # 16 hashes → 4 bands × 4 rows


@query("minhash_lsh_pairs", """
WITH sig AS ({sig}),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, COUNT(*) AS n_bands
FROM pairs GROUP BY doc_a, doc_b
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS)))
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: band the signatures (4 bands × 4
    rows), bucket-join on band value. The join key is the band hash —
    uniformly distributed, so the self-join shuffle is skew-free; at
    100 TB the band table is orders of magnitude smaller than the corpus
    (only docs sharing a band collide)."""
    # persist: the signature subtree feeds 4 band branches × both join
    # sides — without it Spark recomputes the explode+16×md5 pipeline 8×
    sig = persist_once(_minhash_sig_df(_spark(spark), sf_dir))
    bands = union_epochs([
        sig.select("doc_id", F.lit(b).alias("band"),
                   F.concat_ws("|", *[F.col(f"h{b * 4 + i}")
                                      for i in range(4)]).alias("bv"))
        for b in range(_LSH_BANDS)])
    a, b = bands.alias("a"), bands.alias("b")
    pairs = a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
    return (pairs.select(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b"))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count(F.lit(1)).alias("n_bands")))


@query("embedding_topk", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
s AS (SELECT qid, cid,
             round(list_sum(list_transform(range(1, 65), i -> qe[i] * ce[i]))
                   / (qn * cn), 6) AS sim
      FROM q, c)
SELECT qid, cid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 10
""")
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: the query set broadcasts
    (the scale pattern — tiny probe side × huge corpus), dot products run
    as JVM higher-order functions (no Python), per-query top-k via
    window. Rounded to 6dp with a cid tie-break for determinism."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    emb = emb.withColumn(
        "nrm", F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                                  F.lit(0.0), lambda a, x: a + x)))
    q = (emb.filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                    F.col("nrm").alias("qn")))
    c = (emb.filter(F.col("vec_id") >= 5)
            .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                    F.col("nrm").alias("cn")))
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    pairs = (c.crossJoin(F.broadcast(q))
              .select("qid", "cid",
                      F.round(dot / (F.col("qn") * F.col("cn")), 6).alias("sim")))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= 10).drop("rn"))



@query("embedding_int8_ann_recall", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
qz AS (SELECT vec_id, e,
              list_transform(e, x -> CAST(round(
                  x / (list_max(list_transform(e, y -> abs(y))) / 127.0))
                  AS BIGINT)) AS q
       FROM v),
n AS (SELECT vec_id, e, q,
             sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE))
               AS qqn,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM qz),
qp AS (SELECT vec_id AS qid, e AS qe, q AS qq, qqn AS a_qn, nrm AS a_n
       FROM n WHERE vec_id < 5),
cp AS (SELECT vec_id AS cid, e AS ce, q AS cq, qqn AS b_qn, nrm AS b_n
       FROM n WHERE vec_id >= 5),
sq AS (SELECT qid, cid,
              CAST(list_sum(list_transform(range(1, 65),
                   i -> qq[i] * cq[i])) AS DOUBLE) / (a_qn * b_qn) AS qsim
       FROM qp, cp),
tq AS (SELECT qid, cid FROM sq
       QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
           ORDER BY qsim DESC, cid) <= 10),
se AS (SELECT qid, cid,
              round(list_sum(list_transform(range(1, 65),
                    i -> qe[i] * ce[i])) / (a_n * b_n), 6) AS sim
       FROM qp, cp),
te AS (SELECT qid, cid FROM se
       QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
           ORDER BY sim DESC, cid) <= 10)
SELECT t.qid, CAST(COUNT(e.cid) AS DOUBLE) / 10.0 AS recall_at_10
FROM tq t LEFT JOIN te e ON t.qid = e.qid AND t.cid = e.cid
GROUP BY t.qid
""")
def embedding_int8_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization for similarity search (the 4x
    memory / bandwidth cut that makes billion-vector ANN fit a
    cluster): per-vector scale = absmax/127, and because quantized
    cosine = int-dot / (int-norm * int-norm) the scales CANCEL -- the
    whole quantized ranking runs on exact integer sums (identical in
    every engine, no float-fold hazard), with two IEEE ops at the end.
    Reported per probe as recall@10 against the exact-cosine top-k
    (embedding_topk's proven ranking) -- quantization quality is a
    monitored query output, the embedding_ann_recall convention."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    scale = F.array_max(F.transform("e", lambda x: F.abs(x))) / F.lit(127.0)
    emb = (emb
           .withColumn("q", F.transform("e", lambda x:
                                        F.round(x / scale).cast("long")))
           .withColumn("qqn", F.sqrt(F.aggregate(
               F.transform("q", lambda x: x * x),
               F.lit(0).cast("long"), lambda a, x: a + x).cast("double")))
           .withColumn("nrm", F.sqrt(F.aggregate(
               F.transform("e", lambda x: x * x),
               F.lit(0.0), lambda a, x: a + x))))
    qp = (emb.filter(F.col("vec_id") < 5)
             .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                     F.col("q").alias("qq"), F.col("qqn").alias("a_qn"),
                     F.col("nrm").alias("a_n")))
    cp = (emb.filter(F.col("vec_id") >= 5)
             .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                     F.col("q").alias("cq"), F.col("qqn").alias("b_qn"),
                     F.col("nrm").alias("b_n")))
    pairs = cp.crossJoin(F.broadcast(qp))
    qdot = F.aggregate(F.zip_with("qq", "cq", lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda a, x: a + x)
    edot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                       F.lit(0.0), lambda a, x: a + x)
    scored = pairs.select(
        "qid", "cid",
        (qdot.cast("double") / (F.col("a_qn") * F.col("b_qn"))).alias("qsim"),
        F.round(edot / (F.col("a_n") * F.col("b_n")), 6).alias("sim"))
    # both rankings from ONE pass: the windows share the qid
    # partitioning (single shuffle, single corpus scan) and recall is
    # the direct intersection count — no two-branch self-join that
    # would execute the scored subtree twice
    wq = Window.partitionBy("qid").orderBy(F.col("qsim").desc(), F.col("cid"))
    we = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    ranked = (scored.withColumn("rq", F.row_number().over(wq))
                    .withColumn("rx", F.row_number().over(we)))
    both = F.when((F.col("rq") <= 10) & (F.col("rx") <= 10), 1).otherwise(0)
    return (ranked.groupBy("qid")
                  .agg((F.sum(both).cast("double") / F.lit(10.0))
                       .alias("recall_at_10")))


@query("multimodal_meta", """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       (octet_length(encode(text)) + 255) // 256 AS n_frames,
       md5(text) AS content_hash
FROM documents
""")
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: treat content as opaque bytes with
    typed metadata (byte length, fixed-size frame count, content hash) —
    the schema/partitioning layer under the decode stubs in
    operators/llm/multimodal.py."""
    d = read_table(_spark(spark), sf_dir, "documents")
    nbytes = F.octet_length("text").cast("long")
    return d.select(
        "doc_id", nbytes.alias("n_bytes"),
        F.floor((nbytes + 255) / 256).alias("n_frames"),
        F.md5(F.col("text").cast("binary")).alias("content_hash"))


# ---------------------------------------------------------------------------
# Extended operator coverage: as-of / salted joins, rollup, sessionization,
# simhash / jaccard dedup, IVF ANN, BPE-ish tokens, multimodal frames.

_HEXPOS = ("(strpos('0123456789abcdef', substr(md5(w), {i}, 1)) - 1)")
_SIMHASH_V_SQL = " + ".join(
    f"{_HEXPOS.format(i=i + 1)} * {16 ** (3 - i)}" for i in range(4))
_SIMHASH_SUMS = ",\n  ".join(
    f"SUM(((v >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(16))
_SIMHASH_RECOMPOSE = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))


@query("simhash_docs", f"""
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
wv AS (SELECT doc_id, {_SIMHASH_V_SQL} AS v FROM words),
bits AS (SELECT doc_id,
  {_SIMHASH_SUMS}
FROM wv GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_RECOMPOSE} AS BIGINT) AS simhash FROM bits
""")
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprint (operators.llm.simhash): per-bit
    signed majority over word hashes; near-dups share fingerprints
    within small Hamming distance."""
    from .operators.llm.simhash import simhash16
    return simhash16(read_table(_spark(spark), sf_dir, "documents"))


@query("ngram_jaccard_pairs", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh FROM idx),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
""")
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs: distinct word-3-gram sets,
    shingle-equality self-join (only docs sharing a shingle pair up —
    the blocking that avoids the full N² at scale), exact Jaccard ≥ 0.2.
    """
    d = read_table(_spark(spark), sf_dir, "documents")
    # split hoisted into a named column (lambda-invariant; see minhash)
    t = d.select("doc_id", F.split("text", " ").alias("t"))
    sh = (t.filter(F.size("t") >= 3)
           .select("doc_id", F.explode(F.expr(
               "transform(sequence(1, size(t) - 2), "
               "i -> array_join(slice(t, i, 3), ' '))")).alias("sh"))
           .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count(F.lit(1)).alias("i")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (inter.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
            .filter(jac >= 0.2)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


@query("rollup_orders", """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregation (grouping sets) — subtotals and
    grand total in one pass (Catalyst Expand + single shuffle)."""
    o = read_table(_spark(spark), sf_dir, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  _dec_sum(F.col("o_totalprice"), "total_price")))


@query("sessionize_events", """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
g AS (SELECT user_id, event_id, tus,
        CASE WHEN LAG(tus) OVER w IS NULL
                  OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (SELECT user_id, event_id, tus,
        CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM g)
SELECT user_id, session_no, COUNT(*) AS n_events,
       MIN(event_id) AS first_pos, MAX(event_id) AS last_pos
FROM s GROUP BY user_id, session_no
""")
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands, 30-min inactivity gap): lag +
    running sum windows, then per-session agg — one shuffle on user_id
    shared by both windows and the final groupBy."""
    ev = read_events(_spark(spark), sf_dir).select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("tus"))
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
    run = (Window.partitionBy("user_id").orderBy("tus", "event_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = (ev.withColumn("new_sess", new_sess)
              .withColumn("session_no", F.sum("new_sess").over(run)))
    return (sess.groupBy("user_id", "session_no")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.min("event_id").alias("first_pos"),
                     F.max("event_id").alias("last_pos")))


@query("asof_join_events", """
WITH p AS (SELECT user_id, event_id AS purchase_pos, epoch_us(ts) AS tus
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, event_id AS cpos, epoch_us(ts) AS tus
           FROM events WHERE event_type = 'click')
SELECT p.user_id, p.purchase_pos, c.cpos AS click_pos,
       p.tus - c.tus AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tus >= c.tus
""")
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.asof): latest click at-or-before each
    purchase per user — union-merge + last(ignorenulls) window, one
    shuffle, no quadratic join (DuckDB expresses the same with ASOF
    JOIN)."""
    from .operators.asof import asof_join
    ev = read_events(_spark(spark), sf_dir).select(
        "user_id", "event_id", "event_type",
        F.expr("ts_ns div 1000").alias("tus"))
    p = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", F.col("event_id").alias("purchase_pos"), "tus"))
    c = (ev.filter(F.col("event_type") == "click")
           .select("user_id", F.col("event_id").alias("cpos"), "tus"))
    out = asof_join(p, c, on="user_id", ts="tus", right_cols=["cpos"])
    return out.select(
        "user_id", "purchase_pos",
        F.col("cpos_asof").alias("click_pos"),
        (F.col("tus") - F.col("asof_ts")).alias("gap_us"))


@query("salted_join_segments", """
SELECT c_mktsegment, COUNT(*) AS n_events
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""")
def salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators.joins): hot join keys spread
    across 8 salt buckets, dim side replicated — result identical to the
    plain equi-join the oracle runs."""
    from .operators.joins import salted_join
    s = _spark(spark)
    ev = read_events(s, sf_dir).select("user_id", "event_id")
    cust = (read_table(s, sf_dir, "customer")
            .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    joined = salted_join(ev, cust, on="user_id", buckets=8,
                         salt_by="event_id")
    return (joined.groupBy("c_mktsegment")
                  .agg(F.count(F.lit(1)).alias("n_events")))


@query("distinct_users_per_type", """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events
GROUP BY event_type
""")
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (Catalyst two-phase partial-distinct plan —
    the scalable form of COUNT(DISTINCT))."""
    ev = read_events(_spark(spark), sf_dir)
    return (ev.groupBy("event_type")
              .agg(F.count_distinct(F.col("user_id")).alias("n_users"),
                   F.count(F.lit(1)).alias("n_events")))


@query("bpeish_token_count", r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish
FROM documents
""")
def bpeish_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (operators.llm.tokenize): word /
    number / punctuation pre-tokenizer, JVM regexp — no UDF."""
    from .operators.llm.tokenize import regex_tokens
    d = read_table(_spark(spark), sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(regex_tokens(F.col("text"))).cast("long").alias("n_bpeish"))


@query("binary_encode_modes", """
SELECT doc_id,
       lower(hex(encode(substr(text, 1, 8)))) AS head_hex,
       to_base64(encode(substr(text, 1, 24))) AS head_b64,
       replace(replace(to_base64(encode(substr(text, 1, 24))),
                       '+', '-'), '/', '_') AS head_b64_url,
       substr(text, 1, 24) AS head_bytes,
       octet_length(encode(substr(text, 1, 24))) AS head_nbytes
FROM documents
""")
def binary_encode_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 binary handling modes, all four of the reference's
    ``binary.handling.mode`` values (mysql_extractor.py:159 +
    configuration.py:138-142 BinaryHandler): ``hex``, ``base64``,
    ``base64-url-safe`` (RFC 4648 alphabet: ``+/`` → ``-_``, padding
    kept — Debezium's url-safe flavor), and raw ``bytes`` passthrough
    (emitted here decoded back to its UTF-8 string plus its byte length
    so the oracle can hash it; the engine-side column stays binary)."""
    d = read_table(_spark(spark), sf_dir, "documents")
    head = F.substring("text", 1, 24).cast("binary")
    return d.select(
        "doc_id",
        F.lower(F.hex(F.substring("text", 1, 8).cast("binary")))
         .alias("head_hex"),
        F.base64(head).alias("head_b64"),
        F.translate(F.base64(head), "+/", "-_").alias("head_b64_url"),
        head.cast("string").alias("head_bytes"),
        F.octet_length(head).cast("long").alias("head_nbytes"))


@query("multimodal_frames", """
WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents),
f AS (SELECT doc_id, text, nb,
             unnest(range(0, CAST((nb + 255) // 256 AS BIGINT))) AS fi
      FROM d)
SELECT doc_id AS content_id,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST(LEAST(256, nb - fi * 256) AS INTEGER) AS frame_bytes,
       md5(substr(text, CAST(fi * 256 + 1 AS BIGINT), 256)) AS frame_hash
FROM f
""")
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing (operators.llm.multimodal): payload →
    fixed-size frames via Arrow-batched mapInPandas (deterministic fake
    decode; real codecs drop into the same stage)."""
    from .operators.llm.multimodal import decode_frames, to_multimodal
    d = read_table(_spark(spark), sf_dir, "documents")
    mm = to_multimodal(d, "doc_id", "text", media_type="text",
                       source_col="source")
    return decode_frames(mm)


@query("embedding_ivf_ann", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
cent AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < 4),
d AS (SELECT vec_id, e, cent_id,
             list_sum(list_transform(range(1, 65),
                      i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
      FROM v, cent),
assign AS (SELECT vec_id, e, cent_id FROM d
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) = 1),
n AS (SELECT vec_id, e, cent_id,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM assign),
q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn, cent_id AS qc FROM n
      WHERE vec_id IN (5, 6, 7)),
c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn, cent_id AS cc FROM n
      WHERE vec_id NOT IN (5, 6, 7)),
s AS (SELECT qid, cid,
             round(list_sum(list_transform(range(1, 65), i -> qe[i] * ce[i]))
                   / (qn * cn), 6) AS sim
      FROM q JOIN c ON qc = cc)
SELECT qid, cid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 5
""")
def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: vectors assigned to their nearest centroid
    (coarse quantizer = vectors 0..3), probes search only their own
    bucket — the inverted-file pruning that makes 100 TB ANN feasible
    (brute-force baseline: embedding_topk)."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = (emb.filter(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("cent_id"),
                       F.col("e").alias("ce")))
    sqdist = F.aggregate(F.zip_with("e", "ce", lambda x, y: (x - y) * (x - y)),
                         F.lit(0.0), lambda a, x: a + x)
    d = emb.crossJoin(F.broadcast(cent)).withColumn("dist", sqdist)
    w_assign = Window.partitionBy("vec_id").orderBy("dist", "cent_id")
    assign = (d.withColumn("rn", F.row_number().over(w_assign))
                .filter(F.col("rn") == 1)
                .select("vec_id", "e", "cent_id"))
    norm = F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    n = assign.withColumn("nrm", norm)
    probe_ids = [5, 6, 7]
    q = (n.filter(F.col("vec_id").isin(probe_ids))
          .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                  F.col("nrm").alias("qn"), F.col("cent_id").alias("qc")))
    c = (n.filter(~F.col("vec_id").isin(probe_ids))
          .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                  F.col("nrm").alias("cn"), F.col("cent_id").alias("cc")))
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    pairs = (c.join(F.broadcast(q), F.col("qc") == F.col("cc"))
              .select("qid", "cid",
                      F.round(dot / (F.col("qn") * F.col("cn")), 6)
                       .alias("sim")))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= 5).drop("rn"))


# ---------------------------------------------------------------------------
# Breadth batch: window-function suite, cube, set ops, subqueries, string
# functions, percentiles, semi/anti joins, conditional pivot, embedding
# near-dup pairs. The reference exposes none of these (SURVEY §2.4-2.8
# "none") — they come free with the Spark engine and are oracled for
# completeness of the relational surface.

@query("window_functions_suite", """
SELECT o_orderkey, o_custkey,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       LAG(o_orderkey) OVER w AS prev_ok,
       LEAD(o_orderkey) OVER w AS next_ok,
       NTILE(4) OVER w AS quartile,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/offset/frame window functions in one pass — all windows
    share the (o_custkey)/(o_orderdate, o_orderkey) sort, so Catalyst
    plans a single Exchange + Sort + Window chain."""
    o = read_table(_spark(spark), sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey", "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_orderkey").over(w).alias("prev_ok"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
        F.ntile(4).over(w).alias("quartile"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(wrun)
         .cast("double").alias("running_total"))


@query("cube_lineitem", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (2^k subtotal combinations in one shuffle via
    Catalyst Expand)."""
    li = read_table(_spark(spark), sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("n"),
                   _dec_sum(F.col("l_quantity"), "total_qty")))


@query("set_ops_customers", """
SELECT 'with_orders' AS tag, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'no_orders' AS tag, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT SELECT o_custkey FROM orders)
""")
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations (hash-based left-semi/anti under
    the hood — no sort)."""
    s = _spark(spark)
    bldg = (read_table(s, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    ordered = read_table(s, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"))
    return union_epochs([
        bldg.intersect(ordered).select(F.lit("with_orders").alias("tag"),
                                       "c_custkey"),
        bldg.exceptAll(ordered.distinct()).distinct()
            .select(F.lit("no_orders").alias("tag"), "c_custkey"),
    ])


@query("having_above_avg_customers", """
WITH cnt AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey)
SELECT o_custkey, n FROM cnt WHERE n > (SELECT AVG(n) FROM cnt)
""")
def having_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery predicate over an aggregate (decorrelated by
    Catalyst into an agg + broadcast cross-join filter)."""
    o = read_table(_spark(spark), sf_dir, "orders")
    cnt = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    avg = cnt.agg(F.avg("n").alias("avg_n"))
    return (cnt.crossJoin(F.broadcast(avg))
               .filter(F.col("n") > F.col("avg_n"))
               .select("o_custkey", "n"))


@query("string_funcs", """
SELECT doc_id,
       lpad(lang, 5, '_') AS lang_padded,
       replace(source, 'src', 'origin_') AS source_renamed,
       reverse(lang) AS lang_rev,
       repeat(lang, 2) AS lang_twice,
       strpos(text, 'spark') AS spark_pos,
       levenshtein(lang, 'en') AS lang_dist,
       trim(substr(text, 1, 10)) AS head_trim
FROM documents
""")
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface (pad/replace/reverse/repeat/
    position/levenshtein/trim) — all JVM codegen, no UDF."""
    d = read_table(_spark(spark), sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lpad("lang", 5, "_").alias("lang_padded"),
        F.replace(F.col("source"), F.lit("src"),
                  F.lit("origin_")).alias("source_renamed"),
        F.reverse(F.col("lang")).alias("lang_rev"),
        F.repeat(F.col("lang"), 2).alias("lang_twice"),
        F.instr(F.col("text"), "spark").cast("long").alias("spark_pos"),
        F.levenshtein(F.col("lang"), F.lit("en")).cast("long")
         .alias("lang_dist"),
        F.trim(F.substring("text", 1, 10)).alias("head_trim"))


@query("percentiles_by_status", """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       quantile_cont(o_totalprice, 0.9) AS p90_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
""")
def percentiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``) — the exact baseline; approx_percentile is the
    100 TB fast path (not oracled: sketch results are engine-specific).
    """
    o = read_table(_spark(spark), sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("median_price"),
        F.percentile(F.col("o_totalprice"), F.lit(0.9)).alias("p90_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"))


@query("semi_join_returned_orders", """
SELECT o_orderkey, o_totalprice
FROM orders WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
""")
def semi_join_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS ≡ left-semi join (each order emitted once regardless of
    match count)."""
    s = _spark(spark)
    o = read_table(s, sf_dir, "orders")
    li = (read_table(s, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R").select("l_orderkey"))
    return (o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
             .select("o_orderkey", "o_totalprice"))


@query("anti_join_unreturned_orders", """
SELECT o_orderkey, o_totalprice
FROM orders WHERE NOT EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
""")
def anti_join_unreturned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS ≡ left-anti join (the J1 suppression primitive applied
    relationally)."""
    s = _spark(spark)
    o = read_table(s, sf_dir, "orders")
    li = (read_table(s, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R").select("l_orderkey"))
    return (o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
             .select("o_orderkey", "o_totalprice"))


@query("pivot_event_counts", """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
""")
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via Spark's native groupBy().pivot() with explicit value
    list (no extra discovery pass), renamed to the conditional-agg
    aliases the oracle uses."""
    ev = read_events(_spark(spark), sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    p = (ev.groupBy("user_id").pivot("event_type", types)
           .agg(F.coalesce(F.count(F.lit(1)), F.lit(0))))
    for t in types:
        p = p.withColumnRenamed(t, f"n_{t}")
    # pivot yields NULL for absent combos; oracle's SUM(CASE) yields 0
    return p.select("user_id",
                    *[F.coalesce(F.col(f"n_{t}"), F.lit(0)).alias(f"n_{t}")
                      for t in types])


@query("embedding_dup_pairs", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
s AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_sum(list_transform(range(1, 65),
                            i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.4
""")
def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the EXACT centroid-bucketed
    similarity join (operators.llm.simjoin): triangle-inequality pruning
    of bucket pairs, two hash equi-joins on the bucket key — no all-pairs
    join anywhere in the plan. The brute-force form lives only in the
    oracle SQL. Threshold 0.4 keeps the check non-vacuous at sf0.01 (the
    synthetic embeddings have no true dups; max pairwise cosine ≈ 0.51);
    both engines filter on the 6dp-rounded sim so boundary values agree.
    """
    from .operators.llm.simjoin import cosine_dup_pairs
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    return cosine_dup_pairs(emb, id_col="vec_id", vec_col="e",
                            threshold=0.4, n_centroids=8)


# ---------------------------------------------------------------------------
# Breadth batch 2: correlated subqueries, date/array/regexp function suites,
# full-outer + range joins, grouping sets, vocabulary stats, tf-idf, LSH dup
# grouping. All JVM-side expressions; every column aliased identically in
# both engines; every integer-valued Spark column cast to long to match
# DuckDB's BIGINT (the driver compares schemas).

@query("correlated_min_order", """
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders o
WHERE o_totalprice = (SELECT MIN(o2.o_totalprice) FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)
""")
def correlated_min_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each customer's cheapest order) —
    expressed as the decorrelated plan Catalyst would produce: one
    min-window over the o_custkey partition + filter, a single shuffle
    instead of a per-row subquery."""
    o = read_table(_spark(spark), sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (o.withColumn("min_price", F.min("o_totalprice").over(w))
             .filter(F.col("o_totalprice") == F.col("min_price"))
             .select("o_custkey", "o_orderkey", "o_totalprice"))


@query("q4_order_priority", """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS + aggregate: date filter pushes to the
    orders scan, the EXISTS is a left-semi join, then a tiny agg."""
    s = _spark(spark)
    o = (read_table(s, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))))
    li = (read_table(s, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R").select("l_orderkey"))
    return (o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders")))


@query("date_funcs", """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       CAST(day(o_orderdate) AS BIGINT) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       date_trunc('month', o_orderdate) AS month_start,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
       date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS days_to_2002,
       strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m
FROM orders
""")
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal function surface (year/month/day/dow/quarter, trunc,
    last_day, datediff, add_months). DoW normalized to Spark's
    1=Sunday convention (DuckDB's dow is 0=Sunday)."""
    o = read_table(_spark(spark), sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).cast("long")
         .alias("days_to_2002"),
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd")
         .alias("plus3m"))


@query("array_funcs", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       list_contains(toks, 'the') AS has_the,
       toks[1] AS first_tok,
       toks[3] AS third_tok,
       array_to_string(toks[1:3], ' ') AS head3
FROM t
""")
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface (size/distinct/contains/element_at/slice/
    join) over tokenized text — all JVM higher-order functions."""
    d = read_table(_spark(spark), sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_contains(toks, "the").alias("has_the"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, 3).alias("third_tok"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("head3"))


@query("regexp_funcs", """
SELECT event_id AS kbc__pos,
       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_re,
       regexp_matches(props, '[0-9]{2,}') AS k_multi_digit,
       regexp_replace(props, '[^0-9]', '', 'g') AS digits_only
FROM events
""")
def regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp function surface (extract group / boolean match /
    strip-replace) — JVM regexp codegen, no UDF."""
    ev = read_events(_spark(spark), sf_dir)
    return ev.select(
        F.col("event_id").alias("kbc__pos"),
        F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("long")
         .alias("k_re"),
        F.col("props").rlike("[0-9]{2,}").alias("k_multi_digit"),
        F.regexp_replace("props", "[^0-9]", "").alias("digits_only"))


@query("full_outer_nation_counts", """
WITH cn AS (SELECT CAST(c_nationkey AS BIGINT) AS nk, COUNT(*) AS n_cust
            FROM customer GROUP BY 1),
     sn AS (SELECT CAST(s_nationkey AS BIGINT) AS nk, COUNT(*) AS n_supp
            FROM supplier GROUP BY 1)
SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM cn FULL JOIN sn ON cn.nk = sn.nk
""")
def full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (aggregate-before-join:
    the join inputs are nation-cardinality, so the full-outer shuffle is
    trivial no matter the fact-table scale)."""
    s = _spark(spark)
    cn = (read_table(s, sf_dir, "customer")
          .groupBy(F.col("c_nationkey").cast("long").alias("nk"))
          .agg(F.count(F.lit(1)).alias("n_cust")))
    sn = (read_table(s, sf_dir, "supplier")
          .groupBy(F.col("s_nationkey").cast("long").alias("nk"))
          .agg(F.count(F.lit(1)).alias("n_supp")))
    j = cn.join(sn, "nk", "full_outer")
    return j.select(F.col("nk").alias("nationkey"),
                    F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
                    F.coalesce("n_supp", F.lit(0)).alias("n_supp"))


@query("grouping_sets_orders", """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""")
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube: an arbitrary subset
    list, one Expand + single shuffle)."""
    s = _spark(spark)
    read_table(s, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@query("first_last_window", """
SELECT o_orderkey, o_custkey,
       first_value(o_orderkey) OVER w AS first_ok,
       last_value(o_orderkey) OVER w AS last_ok,
       nth_value(o_orderkey, 2) OVER w AS second_ok
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over a full-partition frame (one sort, one
    shuffle shared by all three)."""
    o = read_table(_spark(spark), sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return o.select(
        "o_orderkey", "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"))


@query("vocab_topk", """
SELECT w, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w
ORDER BY n DESC, w
LIMIT 20
""")
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary top-k (corpus word frequencies): explode → count →
    TakeOrderedAndProject; map-side partial counts keep the shuffle at
    vocabulary cardinality, not token count."""
    d = read_table(_spark(spark), sf_dir, "documents")
    return (d.select(F.explode(F.split("text", " ")).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.col("n").desc(), F.col("w"))
             .limit(20))


@query("tfidf_top_terms", """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, w,
         round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (w) CROSS JOIN n)
SELECT doc_id, w, tfidf FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
    ORDER BY tfidf DESC, w) <= 3
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf terms: tf and df aggregates, df + the
    corpus-size scalar broadcast into the scoring join, per-doc top-k
    window. The df table is vocabulary-sized → always broadcastable.
    The raw text is spread to core count before the explode ONLY when
    the scan arrives under-partitioned (single small file) — at scale
    the scan has enough splits and no extra shuffle is paid."""
    s = _spark(spark)
    d = read_table(s, sf_dir, "documents")
    tok = (_spread(d.select("doc_id", "text"), s)
            .select("doc_id", F.explode(F.split("text", " ")).alias("w")))
    # tf has exactly one row per (doc, term), so df is a plain COUNT
    # over tf — no count_distinct expand, and the cached tf feeds both
    # the df rollup and the scoring join (the corpus explode runs once)
    tf = persist_once(
        tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(F.broadcast(df), "w")
                .crossJoin(F.broadcast(n))
                .select("doc_id", "w",
                        F.round(F.col("tf") * F.log((F.col("n_docs") + 1.0)
                                                    / (F.col("df") + 1.0)), 6)
                         .alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w"))
    return (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= 3).drop("rn"))


@query("range_join_value_bands", """
SELECT band, COUNT(*) AS n_events,
       CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM range(10) t(band)
JOIN events ON "value" >= band * 50.0 AND "value" < band * 50.0 + 50.0
GROUP BY band
""")
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi band) join: the band table is tiny and broadcast,
    so the inequality join is a broadcast nested-loop over 10 rows —
    constant work per event row at any scale."""
    s = _spark(spark)
    ev = read_events(s, sf_dir)
    bands = s.range(10).toDF("band")
    cond = ((F.col("value") >= F.col("band") * 50.0)
            & (F.col("value") < F.col("band") * 50.0 + 50.0))
    return (ev.join(F.broadcast(bands), cond)
              .groupBy("band")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   _dec_sum(F.col("value"), "sum_value")))


@query("lsh_dup_groups", """
WITH sig AS ({sig}),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
nbr AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS nb
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
  UNION ALL SELECT doc_id, doc_id FROM sig)
SELECT doc_id, MIN(nb) AS group_rep FROM nbr GROUP BY doc_id
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS)))
def lsh_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group labeling: each doc labeled with the min doc_id among
    its LSH band neighbors (1-hop label propagation — the first round of
    the distributed connected-components loop; full transitive closure
    iterates this same joined step to fixpoint)."""
    sig = persist_once(_minhash_sig_df(_spark(spark), sf_dir))
    bands = union_epochs([
        sig.select("doc_id", F.lit(b).alias("band"),
                   F.concat_ws("|", *[F.col(f"h{b * 4 + i}")
                                      for i in range(4)]).alias("bv"))
        for b in range(_LSH_BANDS)])
    a, b = bands.alias("a"), bands.alias("b")
    nbr = union_epochs([
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bv") == F.col("b.bv")))
         .select(F.col("a.doc_id").alias("doc_id"),
                 F.col("b.doc_id").alias("nb")),
        sig.select("doc_id", F.col("doc_id").alias("nb")),
    ])
    return nbr.groupBy("doc_id").agg(F.min("nb").alias("group_rep"))


@query("schema_changes_route", f"""
WITH tagged AS (
  SELECT event_id,
         CASE WHEN event_type = 'signup'
              THEN 'ALTER TABLE events ADD COLUMN c_' || CAST(user_id AS VARCHAR)
              ELSE NULL END AS ddl,
         epoch_ms(ts) AS ts_ms
  FROM events)
SELECT ts_ms, 'testdb' AS database_name, 'public' AS schema_name,
       ddl, event_id AS kbc__pos
FROM tagged WHERE ddl IS NOT NULL AND ddl <> ''
""")
def schema_changes_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 DDL routing (operators.routing.split_schema_changes): events
    carrying DDL text land in the fixed-schema schema-changes side table
    (reference common.py:4-29; signup events stand in as DDL carriers
    in the synthetic feed). Both branches share one scan; each filter
    pushes down independently."""
    from .operators.routing import split_schema_changes
    ev = read_events(_spark(spark), sf_dir)
    tagged = ev.withColumn(
        "ddl", F.when(F.col("event_type") == "signup",
                      F.concat(F.lit("ALTER TABLE events ADD COLUMN c_"),
                               F.col("user_id").cast("string"))))
    _data, ddl_events = split_schema_changes(tagged)
    return ddl_events.select(
        F.expr("ts_ns div 1000000").alias("ts_ms"),
        F.lit("testdb").alias("database_name"),
        F.lit("public").alias("schema_name"),
        "ddl",
        F.col("event_id").alias("kbc__pos"))


@query("hopping_window_agg", """
WITH e AS (SELECT event_type, "value", epoch_ms(ts) AS tms FROM events),
w AS (SELECT event_type, "value",
             unnest([make_timestamp((tms // 1800000) * 1800 * 1000000),
                     make_timestamp(((tms // 1800000) * 1800 - 1800) * 1000000)])
               AS window_start
      FROM e)
SELECT window_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM w GROUP BY window_start, event_type
""")
def hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 1h windows every 30min via
    F.window — each event lands in exactly two windows (the batch shape
    of the Structured Streaming sliding-window agg; the oracle expands
    the two epoch-aligned window starts arithmetically)."""
    ev = read_events(_spark(spark), sf_dir)
    return (ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   _dec_sum(F.col("value"), "sum_value"))
              .select(F.col("window.start").alias("window_start"),
                      "event_type", "n_events", "sum_value"))


@query("streaming_bounded_dedup", f"""
SELECT user_id, event_type, "value", props, event_id AS kbc__pos
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
    ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
""")
def streaming_bounded_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/T9 end-to-end through Structured Streaming: stage the event
    file as a stream source, drain it with Trigger.AvailableNow under the
    bounded-sync stop conditions, compact per micro-batch in foreachBatch
    (same dedup_latest operator as batch mode), and return the compacted
    table. The oracle is the plain W1 window — the streaming pipeline
    must agree with it exactly, whatever the micro-batch split."""
    import shutil
    import tempfile
    from .streaming.bounded import BoundedStreamConfig, bounded_sync

    work = tempfile.mkdtemp(prefix="sparkcdc_stream_")
    src = f"{work}/src"
    import os
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/part-0.parquet")
    out, ckpt = f"{work}/out", f"{work}/ckpt"
    bounded_sync(_spark(spark), src, out, ckpt,
                 BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"]))
    res = spark.read.parquet(out)
    return res.select("user_id", "event_type", "value", "props",
                      F.col(SC.pos).alias("kbc__pos"))


@query("multi_table_sync_dedup", """
SELECT user_id, event_type, "value", props, event_id AS kbc__pos
FROM events
WHERE event_type IN ('click', 'view')
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
    ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
""")
def multi_table_sync_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table engine lifecycle (engine.sync_multi): the event stream
    is routed on its _table discriminator into independent per-table
    plans (DEDUPE tab_a = click/view, APPEND tab_b = rest), each with
    manifest/registry/offsets. The oracle checks the tab_a branch: W1
    over only that table's events — proving the routing leaks nothing
    across tables."""
    import tempfile

    from .engine import SyncConfig, sync_multi

    s = _spark(spark)
    ev = read_cdc_events(s, sf_dir)
    multi = ev.withColumn(
        "_table", F.when(F.col("event_type").isin("click", "view"), "tab_a")
                   .otherwise("tab_b"))
    out = tempfile.mkdtemp(prefix="sparkcdc_multi_")
    results = sync_multi(s, multi, out, {
        "tab_a": SyncConfig(mode="DEDUPE", primary_keys=["user_id"]),
        "tab_b": SyncConfig(mode="APPEND"),
    })
    return results["tab_a"].select(
        "user_id", "event_type", "value", "props",
        F.col("KBC__POS").alias("kbc__pos"))


@query("merge_upsert_dedup", f"""
SELECT user_id, event_type, "value", props, event_id AS kbc__pos
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
    ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
""")
def merge_upsert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE compaction (sinks.merge.MergeCompactor) driven
    as two chained batches: the second upsert reads back and rewrites
    ONLY the hash buckets its keys touch (partition-pruned state scan +
    dynamic partition overwrite), yet the final state must equal the
    one-shot W1 window over all events — the oracle is that plain
    window."""
    import tempfile

    s = _spark(spark)
    ev = read_cdc_events(s, sf_dir)
    mid = ev.agg(F.max(SC.pos)).collect()[0][0] // 2
    from .sinks.merge import MergeCompactor
    state = tempfile.mkdtemp(prefix="sparkcdc_merge_") + "/state"
    c = MergeCompactor(state, ["user_id"], num_buckets=16)
    c.merge(s, ev.filter(F.col(SC.pos) <= mid))
    c.merge(s, ev.filter(F.col(SC.pos) > mid))
    return c.read(s).select("user_id", "event_type", "value", "props",
                            F.col(SC.pos).alias("kbc__pos"))


@query("training_mix_caps", """
SELECT source, doc_id, n_chars
FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY source
    ORDER BY n_chars DESC, doc_id) <= 10
""")
def training_mix_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composition: cap each source's contribution at the
    top-10 docs by length (quality proxy) — the per-source quota step
    of corpus mixing. One shuffle on source; per-partition top-k."""
    d = read_table(_spark(spark), sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(),
                                             F.col("doc_id"))
    return (d.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 10)
             .select("source", "doc_id", "n_chars"))


@query("pack_sequences", """
WITH t AS (SELECT doc_id, lang,
                  len(string_split(text, ' ')) AS n_tokens
           FROM documents),
r AS (SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM t)
SELECT doc_id, lang, n_tokens, cum_tokens,
       CAST((cum_tokens - 1) // 512 AS BIGINT) AS pack_id
FROM r
""")
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing: assign docs to ~512-token training
    sequences via a per-language running token total (the deterministic
    streaming-friendly form of greedy sequence packing; the shuffle keys
    on lang and the window sort is the only order dependency)."""
    d = read_table(_spark(spark), sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("long")
    t = d.select("doc_id", "lang", toks.alias("n_tokens"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return r.withColumn("pack_id",
                        F.floor((F.col("cum_tokens") - 1) / 512))


@query("null_semantics", """
SELECT e.event_id AS kbc__pos,
       COALESCE(json_extract_string(e.props, '$.missing'), 'absent') AS k_or_default,
       NULLIF(e.event_type, 'error') AS etype_or_null,
       (json_extract_string(e.props, '$.missing')
          IS NOT DISTINCT FROM NULL) AS is_missing,
       CASE WHEN e."value" IS NULL THEN -1.0 ELSE e."value" END AS value_nvl
FROM events e
""")
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: COALESCE / NULLIF / null-safe equality
    (Spark <=> ≡ SQL IS NOT DISTINCT FROM) / CASE-null default — the
    semantics the NULL-padding schema alignment (P2) relies on."""
    ev = read_events(_spark(spark), sf_dir)
    missing = F.get_json_object("props", "$.missing")
    return ev.select(
        F.col("event_id").alias("kbc__pos"),
        F.coalesce(missing, F.lit("absent")).alias("k_or_default"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("etype_or_null"),
        missing.eqNullSafe(F.lit(None).cast("string")).alias("is_missing"),
        F.when(F.col("value").isNull(), -1.0).otherwise(F.col("value"))
         .alias("value_nvl"))


@query("disjunctive_pushdown", """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem
WHERE (l_quantity >= 45 AND l_discount <= 0.02)
   OR (l_quantity <= 5 AND l_discount >= 0.08)
""")
def disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive predicate: Spark pushes the whole OR
    of AND-ranges to the parquet scan (Or(And(...),And(...)) in
    PushedFilters) so row groups failing both branches are skipped."""
    li = read_table(_spark(spark), sf_dir, "lineitem")
    return (li.filter(
        ((F.col("l_quantity") >= 45) & (F.col("l_discount") <= 0.02))
        | ((F.col("l_quantity") <= 5) & (F.col("l_discount") >= 0.08)))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"))


_EMB_TOPK_SQL = """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n WHERE vec_id >= 5),
s AS (SELECT qid, cid,
             round(list_sum(list_transform(range(1, 65), i -> qe[i] * ce[i]))
                   / (qn * cn), 6) AS sim
      FROM q, c)
SELECT qid, cid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 10
"""


@query("embedding_topk_pandas", _EMB_TOPK_SQL)
def embedding_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-vectorized Python path for ANN scoring (same semantics
    and oracle as embedding_topk's JVM path): probes are a tiny
    broadcast-able set, candidates stream through mapInPandas in Arrow
    batches, numpy does the row-vectorized accumulation. The dim loop
    accumulates sequentially so the FP fold order matches the JVM/SQL
    sequential sum exactly — same 6dp rounding, hash-identical output.
    """
    import pandas as pd

    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    # probe set: tiny by construction (the user's query vectors)
    probes = emb.filter(F.col("vec_id") < 5).collect()
    qids = [r["vec_id"] for r in probes]
    qvecs = [r["e"] for r in probes]
    qnorms = [sum(x * x for x in v) ** 0.5 for v in qvecs]

    def score(batches):
        import numpy as np
        Q = np.asarray(qvecs, dtype="float64")          # (nq, 64)
        qn = np.asarray(qnorms, dtype="float64")
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.vstack(pdf["e"].to_numpy())           # (nc, 64)
            cn = np.zeros(len(C))
            for i in range(C.shape[1]):                  # sequential fold
                cn += C[:, i] * C[:, i]
            cn = np.sqrt(cn)
            for j, qid in enumerate(qids):
                acc = np.zeros(len(C))
                for i in range(C.shape[1]):              # sequential fold
                    acc += Q[j, i] * C[:, i]
                yield pd.DataFrame({
                    "qid": qid,
                    "cid": pdf["vec_id"].to_numpy(),
                    "sim": np.round(acc / (qn[j] * cn), 6),
                })

    cands = emb.filter(F.col("vec_id") >= 5)
    pairs = cands.mapInPandas(score, "qid long, cid long, sim double")
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= 10).drop("rn"))


@query("string_agg_per_group", """
SELECT o_orderstatus,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
         AS priorities,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""")
def string_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: collect_set is unordered by
    contract, so the engine always sorts before joining — the only
    cluster-safe way to emit a stable concatenated list."""
    o = read_table(_spark(spark), sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
             .agg(F.array_join(F.array_sort(F.collect_set("o_orderpriority")),
                               ",").alias("priorities"),
                  F.count(F.lit(1)).alias("n_orders")))


@query("unpivot_lineitem_measures", """
SELECT l_orderkey, l_linenumber, measure, val
FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
         l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
  FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem)
""")
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt) via Spark's native unpivot — one scan,
    Expand node, no self-union of three scans (the oracle's UNION ALL
    form is the semantic spec, not the plan)."""
    li = read_table(_spark(spark), sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure", "val").withColumn(
        "measure", F.expr("substring(measure, 3)"))


@query("argmax_per_group", """
SELECT event_type,
       arg_max(event_id, "value") AS top_event_id,
       arg_min(event_id, "value") AS bottom_event_id,
       MAX("value") AS max_value
FROM (SELECT event_type, "value", event_id FROM events
      QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, "value"
          ORDER BY event_id) = 1)
GROUP BY event_type
""")
def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min aggregation (Spark max_by/min_by ≡ DuckDB
    arg_max/arg_min). Ties on the value column are broken by keeping the
    lowest event_id per (type, value) before aggregating — both engines
    otherwise pick an arbitrary row."""
    ev = read_events(_spark(spark), sf_dir)
    w = Window.partitionBy("event_type", "value").orderBy("event_id")
    uniq = (ev.select("event_type", "value", "event_id")
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1).drop("rn"))
    return uniq.groupBy("event_type").agg(
        F.max_by("event_id", "value").alias("top_event_id"),
        F.min_by("event_id", "value").alias("bottom_event_id"),
        F.max("value").alias("max_value"))


@query("bitwise_aggs", """
SELECT user_id,
       bit_or(CAST(floor("value") AS BIGINT)) AS flags_or,
       bit_and(CAST(floor("value") AS BIGINT)) AS flags_and,
       bit_xor(CAST(floor("value") AS BIGINT)) AS flags_xor
FROM events
GROUP BY user_id
""")
def bitwise_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise OR/AND/XOR aggregates — exact integer ops, fully
    order-independent (the flag-merging shape of permission/feature
    rollups). Explicit floor() before the integer cast: DuckDB's
    double→BIGINT cast rounds, Spark's truncates."""
    ev = read_events(_spark(spark), sf_dir)
    v = F.floor("value").cast("long")
    return ev.groupBy("user_id").agg(
        F.bit_or(v).alias("flags_or"),
        F.bit_and(v).alias("flags_and"),
        F.bit_xor(v).alias("flags_xor"))


@query("greatest_least_scalar", """
SELECT l_orderkey, l_linenumber,
       greatest(l_quantity, l_discount * 100, l_tax * 100) AS g,
       least(l_quantity, l_discount * 100, l_tax * 100) AS l
FROM lineitem
""")
def greatest_least_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """greatest/least n-ary scalar comparison (row-wise, codegen)."""
    li = read_table(_spark(spark), sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100,
                   F.col("l_tax") * 100).alias("g"),
        F.least(F.col("l_quantity"), F.col("l_discount") * 100,
                F.col("l_tax") * 100).alias("l"))


@query("envelope_roundtrip", """
WITH env AS (
  SELECT to_json(struct_pack(
           schema := struct_pack(name := 'testdb.events.Value'),
           payload := struct_pack(event_id := event_id,
                                  user_id := user_id,
                                  event_type := event_type))) AS j
  FROM events)
SELECT replace(replace(json_extract_string(j, '$.schema.name'),
               '.Value', ''), '.', '_') AS _table,
       CAST(json_extract(j, '$.payload.event_id') AS BIGINT) AS event_id,
       CAST(json_extract(j, '$.payload.user_id') AS BIGINT) AS user_id,
       json_extract_string(j, '$.payload.event_type') AS event_type
FROM env
""")
def envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/F5 envelope parsing round-trip: build Kafka-Connect-style
    envelope JSON from the event rows, then parse it back with
    sources.envelope.parse_envelope (from_json + schema.name table
    extraction) — the reference's extractTableNameAndPayload
    (DbChangeConsumer.java:164-229) as one JVM-side pipeline."""
    from pyspark.sql import types as T
    from .sources.envelope import parse_envelope

    ev = read_events(_spark(spark), sf_dir)
    env = ev.select(F.to_json(F.struct(
        F.struct(F.lit("testdb.events.Value").alias("name")).alias("schema"),
        F.struct("event_id", "user_id", "event_type").alias("payload"),
    )).alias("j"))
    payload = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    return parse_envelope(env, "j", payload)


@query("conditional_ratio_promo", """
SELECT CAST(100.0 * SUM(CAST(CASE WHEN event_type = 'purchase'
                             THEN "value" ELSE 0 END AS DECIMAL(18,6)))
            AS DOUBLE)
       / CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS promo_pct,
       COUNT(*) AS n_rows
FROM events
""")
def conditional_ratio_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped conditional-aggregate ratio (share of value from
    one event class) — both sums exact-decimal, ratio in double of
    identical operands."""
    ev = read_events(_spark(spark), sf_dir)
    promo = F.sum(F.when(F.col("event_type") == "purchase",
                         F.col("value")).otherwise(0.0).cast(DEC)) \
             .cast("double")
    total = F.sum(F.col("value").cast(DEC)).cast("double")
    return ev.agg((F.lit(100.0) * promo / total).alias("promo_pct"),
                  F.count(F.lit(1)).alias("n_rows"))


@query("repetition_stats", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t
        WHERE len(t) >= 2),
bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg FROM idx),
cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       MAX(c) AS max_bigram_count,
       round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
FROM cnt GROUP BY doc_id
""")
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition detection (the Gopher/C4-style
    duplicate-n-gram quality signal): fraction of all bigrams taken by
    the most frequent bigram. Two keyed aggregations, shuffle on
    (doc, bigram) then doc — no self-joins."""
    d = read_table(_spark(spark), sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t"))
    bg = (t.filter(F.size("t") >= 2)
           .select("doc_id", F.explode(F.expr(
               "transform(sequence(1, size(t) - 1), "
               "i -> array_join(slice(t, i, 2), ' '))")).alias("bg")))
    cnt = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("max_bigram_count"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6)
         .alias("top_bigram_frac"))


@query("gopher_quality_filter", f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text
           FROM documents),
m AS (SELECT doc_id,
             len(toks) AS n_words,
             CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
               AS mean_word_len,
             len(list_filter(toks, w -> w IN {_STOP_SQL})) AS n_stop
      FROM t)
SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len, n_stop,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3 AND 10
        AND n_stop >= 2) AS keep
FROM m
""")
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-style document quality filter: word-count
    bounds, mean-word-length bounds, minimum stopword presence → one
    boolean keep flag. Pure map stage (no shuffle) — the shape of every
    rule-based corpus filter at 100 TB."""
    d = read_table(_spark(spark), sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    mwl = (F.length("text") - (n - 1)).cast("double") / n
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS))) \
        .cast("long")
    keep = ((n >= 50) & (n <= 100000)
            & (mwl >= 3) & (mwl <= 10)
            & (n_stop >= 2))
    return d.select("doc_id", n.alias("n_words"),
                    F.round(mwl, 6).alias("mean_word_len"),
                    n_stop.alias("n_stop"), keep.alias("keep"))


@query("quality_filter_chain", """
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
           / len(string_split(text, ' ')) AS mwl,
         len(list_filter(string_split(text, ' '),
             w -> w IN {stop})) AS n_stop,
         CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
              AS DOUBLE) / length(text) AS vr,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents),
v AS (SELECT doc_id,
             CASE WHEN NOT (vr >= 0.30) THEN 'lang'
                  WHEN NOT (n_words BETWEEN 50 AND 100000
                            AND mwl BETWEEN 3 AND 10
                            AND n_stop >= 2) THEN 'gopher'
                  WHEN rn > 1 THEN 'exact_dup'
                  ELSE 'kept' END AS drop_reason
      FROM m)
SELECT doc_id, drop_reason, drop_reason = 'kept' AS keep FROM v
""".format(stop=_STOP_SQL))
def quality_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style filtering cascade: language-ID -> Gopher rules ->
    exact-dedup keep, one verdict row per document with the FIRST
    failing stage as the drop reason (the order the big corpus
    pipelines apply them, cheapest-first).  Single scan, one uniform
    md5-keyed window for the dedup rank -- the whole chain is one
    shuffle at any corpus scale, and every stage reuses the exact
    expression its standalone query (text_langid /
    gopher_quality_filter / exact_dedup_docs) already oracles."""
    d = read_table(_spark(spark), sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    mwl = (F.length("text") - (n - 1)).cast("double") / n
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    vr = (F.length(F.regexp_replace(F.lower(F.col("text")), "[^aeiou]", ""))
          .cast("double") / F.length("text"))
    rn = F.row_number().over(
        Window.partitionBy(F.md5(F.col("text").cast("binary")))
              .orderBy("doc_id"))
    gopher = ((n >= 50) & (n <= 100000)
              & (mwl >= 3) & (mwl <= 10) & (n_stop >= 2))
    reason = (F.when(~(vr >= 0.30), "lang")
               .when(~gopher, "gopher")
               .when(rn > 1, "exact_dup")
               .otherwise("kept"))
    return d.select("doc_id", reason.alias("drop_reason"),
                    (reason == F.lit("kept")).alias("keep"))


@query("dup_components", """
WITH sig AS ({sig}),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
edges AS (
  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
  WHERE a.doc_id <> b.doc_id),
reach AS (
  SELECT s AS n, d AS m FROM edges
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
),
all_nodes AS (SELECT DISTINCT doc_id AS n FROM sig),
lbl AS (
  SELECT n, m FROM reach
  UNION ALL SELECT n, n FROM all_nodes)
SELECT n AS doc_id, MIN(m) AS component
FROM lbl GROUP BY n
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS)).replace(
    "WITH sig AS", "WITH RECURSIVE sig AS"))
def dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS as the transitive closure of the LSH candidate
    graph (operators.llm.components.connected_components — Pregel-style
    min-label propagation, one shuffle-bounded join per round). The
    oracle computes the same components via a recursive-CTE transitive
    closure — feasible at oracle scale only; the iterative form is the
    100 TB path. Docs with no band collisions are their own component."""
    from .operators.llm.components import connected_components

    sig = persist_once(_minhash_sig_df(_spark(spark), sf_dir))
    bands = union_epochs([
        sig.select("doc_id", F.lit(b).alias("band"),
                   F.concat_ws("|", *[F.col(f"h{b * 4 + i}")
                                      for i in range(4)]).alias("bv"))
        for b in range(_LSH_BANDS)])
    a, b = bands.alias("a"), bands.alias("b")
    edges = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bv") == F.col("b.bv"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")))
              .select(F.col("a.doc_id").alias("src"),
                      F.col("b.doc_id").alias("dst"))
              .distinct())
    comp = connected_components(edges)
    # singletons (no collisions) label themselves
    singles = (sig.select("doc_id").join(
        comp.select(F.col("node").alias("doc_id")), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("component")))
    return union_epochs([
        comp.select(F.col("node").alias("doc_id"), "component"),
        singles,
    ])


@query("hll_distinct_contract", """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct
FROM events GROUP BY event_type
""")
def hll_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB distinct path: HyperLogLog approx_count_distinct
    (mergeable sketch, no exact-distinct shuffle). Sketch estimates are
    engine-specific, so the oracle checks the ACCURACY CONTRACT instead:
    an rsd=0.01 HLL estimate must land within 5% (a 5-sigma bound) of
    the exact count, emitted as a boolean the hash compare verifies."""
    # exact-distinct and the HLL sketch run in SEPARATE aggregates
    # joined on the tiny group key: mixing them in one agg makes the
    # distinct Expand carry the 2^14-register HLL buffer through an
    # object-hash fallback — measured 30-38 s for 10k rows under the
    # hostile gate (200 partitions, AQE off) vs ~1 s split
    ev = read_events(_spark(spark), sf_dir)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"))
    hll = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("hll"))
    agg = exact.join(F.broadcast(hll), "event_type")
    within = (F.abs(F.col("hll") - F.col("exact_users"))
              <= 0.05 * F.col("exact_users"))
    return agg.select("event_type", "exact_users",
                      within.alias("hll_within_5pct"))


@query("approx_quantile_contract", """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS exact_median,
       TRUE AS approx_within_1pct
FROM orders GROUP BY o_orderstatus
""")
def approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB quantile path: approx_percentile (Greenwald-Khanna
    sketch, single pass, mergeable). Oracled on the accuracy contract:
    the sketch median must land within 1% of the exact interpolated
    median."""
    o = read_table(_spark(spark), sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact_median"),
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000))
         .alias("approx"))
    within = (F.abs(F.col("approx") - F.col("exact_median"))
              <= 0.01 * F.abs(F.col("exact_median")))
    return agg.select("o_orderstatus", "exact_median",
                      within.alias("approx_within_1pct"))


@query("train_split_assign", """
WITH h AS (SELECT doc_id,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                    % 100 AS bucket
           FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM h
""")
def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: hash the stable id into
    100 buckets (md5 → same split in ANY engine, ANY partitioning, ANY
    run — the property random() samplers lack), 80/10/10. Shuffle-free
    map stage; joins downstream stay reproducible."""
    d = read_table(_spark(spark), sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 100)
    return (d.select("doc_id", bucket.alias("bucket"))
             .withColumn("split",
                         F.when(F.col("bucket") < 80, "train")
                          .when(F.col("bucket") < 90, "val")
                          .otherwise("test")))


@query("doc_chunk_split", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id, toks,
             unnest(range(0, CAST(greatest(1, ceil((len(toks) - 8) / 56.0))
                                  AS BIGINT))) AS i
      FROM t)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       array_to_string(toks[i*56+1 : i*56+64], ' ') AS chunk_text,
       CAST(len(toks[i*56+1 : i*56+64]) AS BIGINT) AS chunk_tokens
FROM c
""")
def doc_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for training examples: 64-token
    chunks, 8-token overlap (stride 56) — the context-window splitter
    that precedes packing. Map-only (posexplode of a computed chunk
    range), no shuffle; at 100 TB this is a pure scan→flatMap stage."""
    d = read_table(_spark(spark), sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil((F.size("toks") - 8) / 56.0)).cast("long")
    c = t.select("doc_id", "toks",
                 F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"))
    sl = F.slice("toks", (F.col("i") * 56 + 1).cast("int"), 64)
    return c.select("doc_id", F.col("i").alias("chunk_id"),
                    F.array_join(sl, " ").alias("chunk_text"),
                    F.size(sl).cast("long").alias("chunk_tokens"))


# Deterministic pseudo-random hyperplanes shared by BOTH engines: integer
# arithmetic only, so the plane coefficients are bit-identical and the
# sign bits (and therefore the candidate set) agree exactly.
_HP = "(((1 + (j*64 + i) * 2654435761) % 1000003) / 1000003.0 - 0.5)"

@query("embedding_hyperplane_lsh_pairs", f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
u AS (SELECT vec_id, e, nrm,
             list_transform(e, x -> x / nrm) AS uv FROM n),
sig AS (SELECT vec_id, e, nrm,
               list_transform(range(0, 16), j -> CASE WHEN
                 list_sum(list_transform(range(0, 64),
                          i -> uv[i+1] * {_HP})) >= 0
                 THEN 1 ELSE 0 END) AS bits
        FROM u),
bands AS (SELECT vec_id, e, nrm, b,
                 bits[4*b+1]*8 + bits[4*b+2]*4 + bits[4*b+3]*2 + bits[4*b+4]
                   AS band_key
          FROM sig, unnest(range(0, 4)) t(b)),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                round(list_sum(list_transform(range(1, 65),
                               i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6)
                  AS sim
         FROM bands a JOIN bands b
           ON a.b = b.b AND a.band_key = b.band_key
          AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, sim FROM cand WHERE sim >= 0.4
""")
def embedding_hyperplane_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) LSH near-dup candidates:
    the `operators/llm/simjoin.hyperplane_lsh_pairs` operator under its
    oracle pin — 16 sign bits from deterministic integer-arithmetic
    hyperplanes, 4 bands x 4 bits, candidates = same-band pairs, exact
    cosine filter. The operator's SCALE defaults are adaptive
    (bits_per_band=None sizes the band key space to ceil(log2(n /
    target_bucket_size)), keeping buckets ~target and band-join work
    ~n x target — a fixed 16-key band space makes buckets grow with n
    and the self-join O(n^2/16)); the 4x4 pin exists only so DuckDB
    replays the geometry bit-exactly."""
    from .operators.llm.simjoin import hyperplane_lsh_pairs
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    return hyperplane_lsh_pairs(emb, threshold=0.4, n_bands=4,
                                bits_per_band=4)


@query("all_datatypes_decode", """
SELECT event_id AS kbc__pos,
       CAST(DATE '1970-01-01' + CAST(event_id % 20000 AS INTEGER) AS VARCHAR)
         AS d_epoch_day,
       make_timestamp(epoch_ms(ts) * 1000) AS ts_epoch_ms,
       CAST(CAST("value" AS DECIMAL(18,6)) AS VARCHAR) AS dec_as_string,
       CAST(json_object('uid', user_id, 'pos', event_id) AS VARCHAR)
         AS json_stringified,
       hex(encode(event_type)) AS bin_hex,
       to_base64(encode(event_type)) AS bin_b64,
       CAST(user_id AS VARCHAR) AS uuidish_passthrough
FROM events
""")
def all_datatypes_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Debezium wire-type decode map (§1.2 / model/types.py) in one
    row shape, mirroring the reference's all-data-types fixtures:
    epoch-day int → DATE (F3, AbstractDbConverter.java:105-108),
    epoch-ms → TIMESTAMP (F4, :109-110), decimal.handling.mode=string
    with scale preserved (mysql_extractor.py:157), nested values
    stringified as JSON (F10, :111-115), binary hex/base64 modes (F9,
    :159). Pure projection — whole-stage codegen, zero shuffles."""
    ev = read_events(_spark(spark), sf_dir)
    return ev.select(
        F.col("event_id").alias("kbc__pos"),
        # the reference renders epoch-day dates as ISO strings at append
        # time (AbstractDbConverter.java:105-108) — match that exactly
        F.date_from_unix_date((F.col("event_id") % 20000).cast("int"))
         .cast("string").alias("d_epoch_day"),
        F.timestamp_millis(F.expr("ts_ns div 1000000")).alias("ts_epoch_ms"),
        F.col("value").cast("decimal(18,6)").cast("string")
         .alias("dec_as_string"),
        F.to_json(F.struct(F.col("user_id").alias("uid"),
                           F.col("event_id").alias("pos")))
         .alias("json_stringified"),
        F.hex(F.col("event_type").cast("binary")).alias("bin_hex"),
        F.base64(F.col("event_type").cast("binary")).alias("bin_b64"),
        F.col("user_id").cast("string").alias("uuidish_passthrough"))


@query("stratified_sample_docs", """
WITH h AS (SELECT doc_id, lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                    % 1000 AS bucket
           FROM documents)
SELECT doc_id, lang, bucket FROM h
WHERE bucket < CASE WHEN lang = 'en' THEN 500 ELSE 100 END
""")
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (per-language rates, en 50% /
    rest 10%): hash-bucket the stable id instead of random() so the
    sample is identical across engines, partitionings and reruns — the
    reproducibility property corpus-mixing pipelines need. Map-only, no
    shuffle."""
    d = read_table(_spark(spark), sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 1000)
    rate = F.when(F.col("lang") == "en", 500).otherwise(100)
    return (d.select("doc_id", "lang", bucket.alias("bucket"))
             .filter(F.col("bucket") < rate))


@query("decontaminate_train_docs", """
WITH h AS (SELECT doc_id,
                  md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' '))
                    AS fp,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                    % 100 AS bucket
           FROM documents)
SELECT t.doc_id, t.fp FROM h t
WHERE t.bucket < 80
  AND NOT EXISTS (SELECT 1 FROM h e WHERE e.bucket >= 90 AND e.fp = t.fp)
""")
def decontaminate_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: drop any train-split document whose
    order-insensitive content fingerprint also appears in the held-out
    split (the exact-match contamination check run before training).
    Eval fingerprints are a broadcast anti-join side — at 100 TB the
    eval set is tiny relative to train, so no shuffle of the train side.
    """
    d = read_table(_spark(spark), sf_dir, "documents")
    fp = F.md5(F.array_join(F.sort_array(F.split(F.lower("text"), " ")), " ")
               .cast("binary"))
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 100)
    h = d.select("doc_id", fp.alias("fp"), bucket.alias("bucket"))
    train = h.filter(F.col("bucket") < 80).select("doc_id", "fp")
    eval_fps = h.filter(F.col("bucket") >= 90).select("fp").distinct()
    return train.join(F.broadcast(eval_fps), on="fp", how="left_anti") \
                .select("doc_id", "fp")


@query("grouped_centroids_pandas", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
b AS (SELECT vec_id, e, vec_id % 4 AS bucket FROM v),
u AS (SELECT bucket, i AS dim,
             CAST(round(e[i] * 1000000) AS BIGINT) AS scaled
      FROM b, unnest(range(1, 65)) t(i))
SELECT bucket, CAST(dim AS INTEGER) AS dim,
       CAST(SUM(scaled) AS BIGINT) AS sum_scaled, COUNT(*) AS n_vecs
FROM u GROUP BY bucket, dim
""")
def grouped_centroids_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the third Arrow API next to
    mapInPandas and applyInPandasWithState): per-bucket embedding
    centroid accumulators. Values are scaled to int64 before summing so
    the aggregation is exact and order-independent — the sum is
    hash-comparable against SQL regardless of row order inside the
    pandas group."""
    import pandas as pd

    s = _spark(spark)
    emb = (read_table(s, sf_dir, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("e"),
                   (F.col("vec_id") % 4).alias("bucket")))

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        E = np.vstack(pdf["e"].to_numpy())                    # (n, 64)
        scaled = np.rint(E * 1_000_000).astype("int64")
        return pd.DataFrame({
            "bucket": pdf["bucket"].iloc[0],
            "dim": np.arange(1, E.shape[1] + 1, dtype="int32"),
            "sum_scaled": scaled.sum(axis=0),                 # exact int64
            "n_vecs": len(E),
        })

    return emb.groupBy("bucket").applyInPandas(
        centroid, "bucket long, dim int, sum_scaled long, n_vecs long")


@query("q10_returned_revenue", """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
    AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item revenue: filters push to both fact
    scans, nation broadcasts, top-k via TakeOrderedAndProject with a
    deterministic tie-break."""
    s = _spark(spark)
    cust = read_table(s, sf_dir, "customer")
    orders = read_table(s, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")))
    li = read_table(s, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = read_table(s, sf_dir, "nation")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation),
                    cust.c_nationkey == nation.n_nationkey)
              .groupBy("c_custkey", "c_name", "n_name")
              .agg(_dec_sum(disc_price, "revenue"))
              .select("c_custkey", "c_name", "n_name", "revenue")
              .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
              .limit(20))


@query("q12_priority_by_quantity_band", """
SELECT CASE WHEN l_quantity >= 25 THEN 'high' ELSE 'low' END AS qty_band,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
""")
def q12_priority_by_quantity_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped conditional counts over a join, grouped by a
    derived band — the CASE aggregation pattern entirely inside
    whole-stage codegen."""
    s = _spark(spark)
    o = read_table(s, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = read_table(s, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .groupBy(F.when(F.col("l_quantity") >= 25, "high")
                        .otherwise("low").alias("qty_band"))
              .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
                   F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count")))


@query("snapshot_diff_events", """
WITH old_state AS (
  SELECT user_id, event_type, "value", event_id FROM events
  WHERE event_id <= (SELECT (MIN(event_id) + MAX(event_id)) // 2 FROM events)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
      ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1),
new_state AS (
  SELECT user_id, event_type, "value", event_id FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
      ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1)
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'c'
            WHEN n.user_id IS NULL THEN 'd'
            WHEN o.event_id <> n.event_id THEN 'u'
            ELSE 'noop' END AS op,
       o.event_id AS old_pos, n.event_id AS new_pos
FROM old_state o FULL JOIN new_state n ON o.user_id = n.user_id
WHERE NOT (o.event_id IS NOT DISTINCT FROM n.event_id)
""")
def snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the inverse of CDC consumption:
    diff two table states (per-PK full outer join) and synthesize the
    change events (c/u/d) that transform old into new. The op every
    CDC pipeline needs when the log has a gap and only snapshots
    remain. One shuffle on the PK; both states come from the same W1
    dedup operator."""
    ev = read_cdc_events(_spark(spark), sf_dir)
    mn, mx = ev.agg(F.min(SC.pos), F.max(SC.pos)).collect()[0]
    mid = (mn + mx) // 2
    old = (dedup_latest(ev.filter(F.col(SC.pos) <= mid), ["user_id"])
           .select(F.col("user_id").alias("o_uid"),
                   F.col(SC.pos).alias("old_pos")))
    new = (dedup_latest(ev, ["user_id"])
           .select(F.col("user_id").alias("n_uid"),
                   F.col(SC.pos).alias("new_pos")))
    j = old.join(new, old.o_uid == new.n_uid, "full_outer")
    op = (F.when(F.col("o_uid").isNull(), "c")
           .when(F.col("n_uid").isNull(), "d")
           .when(F.col("old_pos") != F.col("new_pos"), "u")
           .otherwise("noop"))
    return (j.select(F.coalesce("o_uid", "n_uid").alias("user_id"),
                     op.alias("op"), "old_pos", "new_pos")
             .filter(~F.col("old_pos").eqNullSafe(F.col("new_pos"))))


@query("relational_division", """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice < 50000)
""")
def relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("customers ALL of whose orders are large"):
    a semi-join for existence plus an anti-join for the violating set —
    the two J1-style primitives composed; no aggregation needed."""
    s = _spark(spark)
    cust = read_table(s, sf_dir, "customer").select("c_custkey", "c_name")
    orders = read_table(s, sf_dir, "orders")
    any_order = orders.select("o_custkey").distinct()
    small_order = (orders.filter(F.col("o_totalprice") < 50000)
                   .select("o_custkey").distinct())
    return (cust.join(any_order, cust.c_custkey == any_order.o_custkey,
                      "left_semi")
                .join(small_order,
                      cust.c_custkey == small_order.o_custkey, "left_anti"))


@query("range_frame_running_sum", """
SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) AS odate_ms,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
       OVER (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
             RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW)
       AS DOUBLE) AS sum_30d
FROM orders
""")
def range_frame_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE window frame: per customer, total order value
    within the trailing 30 days of each order — the frame is bounded by
    the ORDER BY VALUE (epoch ms), not row offsets, so ties and gaps
    behave identically in both engines."""
    o = read_table(_spark(spark), sf_dir, "orders")
    # NTZ → TZ cast under the pinned UTC session ≡ DuckDB's naive epoch_ms
    odate_ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    w = (Window.partitionBy("o_custkey").orderBy(odate_ms.alias("odate_ms"))
         .rangeBetween(-2592000000, Window.currentRow))
    return o.select(
        "o_orderkey", "o_custkey", odate_ms.alias("odate_ms"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(w)
         .cast("double").alias("sum_30d"))


@query("rank_fractions", """
SELECT o_orderkey, o_custkey,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""")
def rank_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist window fractions (deterministic: the
    order key is unique via the o_orderkey tie-break; 6dp rounding
    guards the (n-1) division's last float bit)."""
    o = read_table(_spark(spark), sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", "o_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"))


@query("snapshot_backfill_region", """
SELECT r_regionkey, r_name,
       'r' AS kbc__operation, FALSE AS kbc__deleted
FROM region
""")
def snapshot_backfill_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 initial-snapshot backfill via control.backfill_plan: a batch
    scan emitted as op='r' snapshot-read events with CDC system columns
    (the snapshot phase of snapshot-then-stream orchestration, T3)."""
    from .control import backfill_plan
    plans = backfill_plan(_spark(spark), sf_dir, ["region"])
    df = plans["region"]
    return df.select(
        "r_regionkey", "r_name",
        F.col("kbc__operation"),
        F.col("__deleted").alias("kbc__deleted"))


@query("scd2_intervals", """
WITH e AS (SELECT user_id, "value", event_id,
                  epoch_ms(ts) AS tms FROM events)
SELECT user_id, "value", event_id AS valid_from_pos,
       LEAD(event_id) OVER w AS valid_to_pos,
       (LEAD(event_id) OVER w IS NULL) AS is_current
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)
""")
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 derived from the event log: each
    event opens a validity interval closed by the key's next event
    (lead over the per-key event order); the open interval marks the
    current row. The history-table view of the same log the W1 dedup
    compacts to current state."""
    ev = read_events(_spark(spark), sf_dir).select(
        "user_id", "value", "event_id",
        F.expr("ts_ns div 1000000").alias("tms"))
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    nxt = F.lead("event_id").over(w)
    return ev.select(
        "user_id", "value",
        F.col("event_id").alias("valid_from_pos"),
        nxt.alias("valid_to_pos"),
        nxt.isNull().alias("is_current"))


# ---------------------------------------------------------------------------
# IO/lifecycle queries (CSV round-trip, live JDBC, manifest/state writers)
# register themselves into QUERIES/ORACLES on import.

from . import queries_lifecycle  # noqa: E402,F401  (registration side-effect)
from . import queries_formats  # noqa: E402,F401  (registration side-effect)


# ---------------------------------------------------------------------------
# S4 incremental mode: chunked snapshot merged with the live stream

@query("incremental_snapshot_users", f"""
WITH bounds AS (
  SELECT min(user_id) AS lo, max(user_id) AS hi FROM events
), wm AS (
  SELECT u.user_id,
         5000 + (LEAST(3, (u.user_id - b.lo) //
                 ((b.hi - b.lo + 1 + 3) // 4)) + 1) * 500 AS wm
  FROM (SELECT DISTINCT user_id FROM events) u, bounds b
), snap AS (
  SELECT e.user_id, e.event_type, e."value",
         'r' AS kbc__operation, w.wm AS kbc__pos, 0 AS is_stream
  FROM events e JOIN wm w ON e.user_id = w.user_id
  WHERE e.event_id <= w.wm
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.user_id
      ORDER BY epoch_ms(e.ts) DESC, e.event_id DESC) = 1
), stream AS (
  SELECT user_id, event_type, "value",
         {_OP_SQL} AS kbc__operation,
         event_id AS kbc__pos, 1 AS is_stream
  FROM events WHERE event_id > 5000
), merged AS (
  SELECT * FROM snap UNION ALL SELECT * FROM stream
)
SELECT user_id, event_type, "value", kbc__operation,
       CAST(kbc__pos AS BIGINT) AS kbc__pos
FROM merged
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
    ORDER BY kbc__pos DESC, is_stream DESC) = 1
""")
def incremental_snapshot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 ``incremental`` snapshot mode — the DBLog watermark algorithm
    (Debezium incremental snapshot; signal built by reference
    ``db_components/debezium/executor.py:244-303`` with
    ``type: INCREMENTAL``): the user table is backfilled in 4 PK-range
    chunks WHILE the stream keeps flowing from position 5000; chunk i
    closes at watermark 5000+(i+1)*500, its rows carry that watermark as
    their stream position, and any stream event for the same key at or
    after the watermark supersedes the snapshot row (stream wins ties).
    One union + one W1 window — chunking changes watermark bookkeeping,
    not the shuffle count. The min/max chunk bounds are two control-
    plane scalars (parquet footer stats / ``SELECT min,max`` at a real
    source, exactly how Debezium sizes its chunks).

    r13 optimization (guide §2.4): the replay previously derived each
    chunk's state with its own ``dedup_latest(ev.filter(pos <= wm_i))``
    — 4 overlapping event scans + 4 window shuffles feeding the merge.
    Keys are range-partitioned into chunks, so each key has exactly ONE
    watermark; ``replay_chunk_states`` computes wm(key) as a column and
    derives all chunk states in ONE pushed-down scan + ONE window
    (plan: 5 scans / 5 window exchanges → 2 scans / 2 exchanges; the
    oracle's own ``wm`` CTE is this exact per-key formulation). The
    live S4 path (``control.py``) keeps per-chunk ``chunk_reads`` over
    the real source state, where nothing overlaps.
    """
    from .operators.snapshot_inc import (merge_incremental, plan_chunks,
                                         replay_chunk_states)

    ev = read_cdc_events(_spark(spark), sf_dir)
    lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    chunks = plan_chunks(int(lo), int(hi), 4)
    watermarks = [5000 + (i + 1) * 500 for i in range(len(chunks))]

    snap = replay_chunk_states(ev, "user_id", chunks, watermarks)
    stream = ev.filter(F.col(SC.pos) > 5000)

    out = merge_incremental([snap], stream, ["user_id"])
    return out.select(
        "user_id", "event_type", "value",
        F.col(SC.operation).alias("kbc__operation"),
        F.col(SC.pos).alias("kbc__pos"))


# ---------------------------------------------------------------------------
# TPC-H breadth (Q7/Q8/Q15/Q17/Q18/Q21/Q22-shaped, adapted to the driver
# schema: no partsupp/receiptdate/phone/container columns exist, so the
# adapted predicates are documented per query)

@query("q7_nation_volume", """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, l_year
""")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping between two nations by ship year. Both
    nation joins broadcast (25 rows); supplier/customer broadcast; the
    only shuffles are lineitem⨝orders and the final partial→final agg —
    the plan that survives a 100× fact scale-up."""
    s = _spark(spark)
    li, orders = read_table(s, sf_dir, "lineitem"), read_table(s, sf_dir, "orders")
    supp, cust = read_table(s, sf_dir, "supplier"), read_table(s, sf_dir, "customer")
    sn = read_table(s, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = read_table(s, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
           .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
           .filter(((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
                   | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))))
    return (j.withColumn("l_year", F.year("l_shipdate").cast("long"))
             .groupBy("supp_nation", "cust_nation", "l_year")
             .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                           "revenue")))


@query("q8_market_share", """
SELECT o_year,
       CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END
                AS DECIMAL(18,6))) AS DOUBLE)
       / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) t
GROUP BY o_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: NATION_5's share of PROMO-part
    revenue among ASIA-region customers, by order year. All dims
    broadcast; conditional + total sums both exact-decimal, share is a
    double ratio of identical operands in both engines."""
    s = _spark(spark)
    li, orders = read_table(s, sf_dir, "lineitem"), read_table(s, sf_dir, "orders")
    part, cust = read_table(s, sf_dir, "part"), read_table(s, sf_dir, "customer")
    supp, region = read_table(s, sf_dir, "supplier"), read_table(s, sf_dir, "region")
    cn = read_table(s, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey"))
    sn = read_table(s, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    t = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(part.filter(F.col("p_type") == "PROMO")),
                 li.l_partkey == F.col("p_partkey"))
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
           .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
           .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                 F.col("cn_rkey") == F.col("r_regionkey"))
           .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
           .select(F.year("o_orderdate").cast("long").alias("o_year"),
                   (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
                   "supp_nation"))
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("volume"))
                 .otherwise(0.0).cast(DEC)).cast("double")
    tot = F.sum(F.col("volume").cast(DEC)).cast("double")
    return t.groupBy("o_year").agg((nat / tot).alias("mkt_share"))


@query("q15_top_supplier", """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-07-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: revenue view over a ship-date half-year,
    then the supplier(s) hitting the max. The revenue subtree is built
    once and reused for both the max and the join (Spark caches the
    exchange; the max side is a 1-row broadcast). Exact-decimal revenue
    makes the max comparison deterministic in both engines."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    supp = read_table(s, sf_dir, "supplier")
    rev = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1996-07-01"))
             .groupBy(F.col("l_suppkey").alias("supplier_no"))
             .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                           "total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (supp.join(rev, F.col("s_suppkey") == F.col("supplier_no"))
                .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
                .select("s_suppkey", "s_name", "total_revenue"))


@query("q17_small_quantity_revenue", """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND p_size < 10
  AND l_quantity < (
    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                  / COUNT(l2.l_quantity))
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""")
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue (container predicate
    adapted to ``p_size < 10`` — the driver part table has no
    p_container). The correlated per-part average becomes one grouped
    aggregate broadcast back onto the fact scan — no per-row subquery
    execution; avg is exact-decimal-sum / count so the 0.2× threshold is
    bit-identical in both engines."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    part = read_table(s, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 10))
    avg_q = (li.groupBy(F.col("l_partkey").alias("ap_key"))
               .agg((F.sum(F.col("l_quantity").cast(DEC)).cast("double")
                     / F.count("l_quantity")).alias("avg_qty")))
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
           .join(avg_q, li.l_partkey == F.col("ap_key"))
           .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty")))
    return j.agg((F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
                  / F.lit(7.0)).alias("avg_yearly"))


@query("q18_large_volume_customers", """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 250
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""")
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: orders whose line quantities sum
    past 250. The inner sum groups on the order PK, so the orders ⨝
    customer side broadcasts; deterministic top-100 via the
    (totalprice, orderkey) tie-break; order date emitted as ISO string
    (the cross-engine DATE canonicalization hazard)."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    orders, cust = read_table(s, sf_dir, "orders"), read_table(s, sf_dir, "customer")
    per_order = (li.groupBy("l_orderkey")
                   .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qdec"))
                   .filter(F.col("qdec") > 250))
    return (per_order
            .join(orders, F.col("l_orderkey") == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                    "o_totalprice",
                    F.col("qdec").cast("double").alias("sum_qty"))
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(100))


@query("q21_late_supplier_blame", """
WITH f AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
             THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
), agg AS (
  SELECT l_orderkey, count(*) AS ns, CAST(sum(late) AS BIGINT) AS nl
  FROM f GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM f
JOIN agg USING (l_orderkey)
JOIN supplier ON f.l_suppkey = s_suppkey
WHERE f.late = 1 AND agg.ns >= 2 AND agg.nl = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""")
def q21_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped "suppliers who kept orders waiting" (the driver
    lineitem has no receipt/commit dates, so "late" is adapted to
    ``l_shipdate > o_orderdate + 60 days``): on multi-supplier orders
    where exactly one supplier shipped late, blame that supplier. The
    double-correlated EXISTS / NOT EXISTS of the original collapses into
    one per-(order,supplier) flag aggregate + a per-order WINDOW rollup
    (not a self-join — a self-join would scan the fact twice; the window
    reuses the aggregate's output in place), then a broadcast supplier
    join. One fact scan, two key-local shuffles.

    r13 optimization (guide §2.4 shared exchange): the flag aggregate
    and the window are both keyed by ``l_orderkey``, so a 4-column
    projected ``repartition(l_orderkey)`` up front serves BOTH — the
    (orderkey, suppkey) hash aggregate accepts the orderkey
    partitioning (subset rule) and the window rides it in place
    (3 exchanges → 2). Partial aggregation is no loss here: an order
    almost never lists the same supplier twice, so map-side partials
    reduced ~nothing while the extra exchange re-shuffled the whole
    aggregate anyway (interleaved A/B: min medians 1.26 → 0.94 s,
    controls flat, rows identical)."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    orders, supp = read_table(s, sf_dir, "orders"), read_table(s, sf_dir, "supplier")
    f = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
           .repartition(F.col("l_orderkey"))
           .groupBy("l_orderkey", "l_suppkey")
           .agg(F.max(F.when(F.col("l_shipdate") >
                             F.date_add(F.col("o_orderdate"), 60), 1)
                       .otherwise(0)).alias("late")))
    w = Window.partitionBy("l_orderkey")
    g = (f.withColumn("ns", F.count(F.lit(1)).over(w))
          .withColumn("nl", F.sum("late").over(w).cast("long")))
    return (g.filter((F.col("late") == 1) & (F.col("ns") >= 2) & (F.col("nl") == 1))
             .join(F.broadcast(supp), g.l_suppkey == supp.s_suppkey)
             .groupBy("s_name")
             .agg(F.count(F.lit(1)).alias("numwait"))
             .orderBy(F.col("numwait").desc(), "s_name")
             .limit(20))


@query("q22_dormant_customers", """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS ab
  FROM customer WHERE c_acctbal > 0
), recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY c_nationkey
""")
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped dormant high-balance customers (no phone column
    → grouped by nation; "no orders" adapted to "no orders since
    2000-01-01" so the result is non-empty at every SF): balance above
    the positive-balance average AND absent from recent orders. The
    average is a 1-row broadcast; the NOT IN becomes a left-anti join
    against the distinct recent-customer keys."""
    s = _spark(spark)
    cust = read_table(s, sf_dir, "customer")
    orders = read_table(s, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
         / F.count(F.lit(1))).alias("ab"))
    recent = (orders.filter(F.col("o_orderdate") >= "2000-01-01")
                    .select("o_custkey").distinct())
    return (cust.join(F.broadcast(avg_bal))
                .filter(F.col("c_acctbal") > F.col("ab"))
                .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
                .groupBy("c_nationkey")
                .agg(F.count(F.lit(1)).alias("numcust"),
                     _dec_sum(F.col("c_acctbal"), "totacctbal")))


@query("q2_min_cost_supplier", """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), c AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost,
         min(supply_cost) OVER (PARTITION BY p_partkey) AS mc
  FROM ps
  JOIN eu ON l_suppkey = s_suppkey
  JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'SMALL'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
FROM c WHERE supply_cost = mc
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier, adapted to the driver schema: the
    missing partsupp relation is derived from observed trade — supply
    cost per (part, supplier) = min unit price ever charged
    (l_extendedprice / l_quantity; identical double division in both
    engines). For SMALL-type parts, emit the EUROPE supplier(s) hitting
    each part's minimum cost. The correlated min-subquery of the
    original becomes a per-part window min ON TOP of the (part,
    supplier) aggregate — the window reuses the aggregate's
    partitioning-compatible output rather than re-scanning, and the
    supplier⨝nation⨝region side is a broadcast (dims). ONE key-local
    shuffle total: the projected fact repartitions by l_partkey up
    front, the (part, supplier) aggregate accepts that partitioning
    (subset rule — the q21 shared-exchange pattern) and the per-part
    window rides it in place; map-side partials lost nothing because
    lineitem is orderkey-clustered, so a task's (part, supplier) pairs
    are nearly unique and the partial agg reduced ~no rows.
    Deterministic top-100 via the (acctbal, nation, supplier, part)
    total order."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    supp = read_table(s, sf_dir, "supplier")
    nat, reg = read_table(s, sf_dir, "nation"), read_table(s, sf_dir, "region")
    part = read_table(s, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    pre = (li.select("l_partkey", "l_suppkey",
                     (F.col("l_extendedprice") / F.col("l_quantity"))
                     .alias("_unit_cost"))
             .repartition(F.col("l_partkey")))
    ps = (pre.groupBy("l_partkey", "l_suppkey")
             .agg(F.min("_unit_cost").alias("supply_cost")))
    eu = (supp.join(nat, supp.s_nationkey == nat.n_nationkey)
              .join(reg.filter(F.col("r_name") == "EUROPE"),
                    nat.n_regionkey == reg.r_regionkey)
              .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    c = (ps.join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
           # keyed on l_partkey (== p_partkey on every joined row) so
           # the window provably reuses the fact exchange instead of
           # depending on join-equivalence partitioning propagation
           .withColumn("mc", F.min("supply_cost")
                              .over(Window.partitionBy("l_partkey"))))
    return (c.filter(F.col("supply_cost") == F.col("mc"))
             .select("s_acctbal", "s_name", "n_name", "p_partkey",
                     "p_name", "supply_cost")
             .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                      "p_partkey")
             .limit(100))


@query("q11_important_stock", """
WITH eu AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), v AS (
  SELECT l_partkey AS ps_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS dval
  FROM lineitem JOIN eu ON l_suppkey = s_suppkey
  GROUP BY l_partkey
)
SELECT ps_partkey, CAST(dval AS DOUBLE) AS part_value
FROM v, (SELECT SUM(dval) AS total FROM v) t
WHERE CAST(dval AS DOUBLE) > 0.001 * CAST(total AS DOUBLE)
""")
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock, adapted: with no partsupp, a part's
    "stock value" held by EUROPE suppliers is the exact-decimal sum of
    their extended prices for it; keep parts whose value exceeds 0.1 %
    of the group total (the original's scalar subquery threshold). One
    fact shuffle (per-part agg over the EUROPE semi-join); the grand
    total is a 1-row broadcast over the agg output, not a second fact
    scan. The threshold compare happens in double on both sides from
    identical exact-decimal sums, so the cut is bit-deterministic."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    supp = read_table(s, sf_dir, "supplier")
    nat, reg = read_table(s, sf_dir, "nation"), read_table(s, sf_dir, "region")
    eu = (supp.join(nat, supp.s_nationkey == nat.n_nationkey)
              .join(reg.filter(F.col("r_name") == "EUROPE"),
                    nat.n_regionkey == reg.r_regionkey)
              .select("s_suppkey"))
    # v feeds BOTH the grand total and the output filter — persist_once
    # (part-count-sized, corpus-shrunk) or the fact subtree statically
    # executes twice (measured: 8 scans → 4).
    v = persist_once(
        li.join(F.broadcast(eu), li.l_suppkey == F.col("s_suppkey"), "semi")
          .groupBy(F.col("l_partkey").alias("ps_partkey"))
          .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("dval")))
    total = v.agg(F.sum("dval").alias("total"))
    return (v.join(F.broadcast(total))
             .filter(F.col("dval").cast("double")
                     > 0.001 * F.col("total").cast("double"))
             .select("ps_partkey", F.col("dval").cast("double")
                                     .alias("part_value")))


@query("q16_parts_supplier_relationship", """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM bad)
GROUP BY p_brand, p_type, p_size
""")
def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 parts/supplier relationship, adapted: the part-supplier
    relation is the DISTINCT (part, supplier) pairs observed in
    lineitem; "customer complaints" (no s_comment column) becomes
    s_acctbal < 1000. Brand/type/size predicates reach the broadcast
    part dim before the join; the NOT IN is a left-anti against the tiny
    bad-supplier set (broadcast). One distinct shuffle on the pair key +
    one count-distinct agg — the same two shuffles the original needs."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    part = read_table(s, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    bad = (read_table(s, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 1000).select("s_suppkey"))
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (pairs.join(F.broadcast(part),
                       F.col("l_partkey") == F.col("p_partkey"))
                 .join(F.broadcast(bad),
                       F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
                 .groupBy("p_brand", "p_type", "p_size")
                 .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@query("q20_potential_promotion", """
WITH qty AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
), w AS (
  SELECT l_partkey, l_suppkey, sq,
         SUM(sq) OVER (PARTITION BY l_partkey) AS tq
  FROM qty
), dominant AS (
  SELECT DISTINCT l_suppkey
  FROM w JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%widget%'
    AND CAST(sq AS DOUBLE) > 0.2 * CAST(tq AS DOUBLE)
)
SELECT s_name, s_acctbal, n_name
FROM supplier
JOIN dominant ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
ORDER BY s_name
""")
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion, adapted: with no ps_availqty,
    a supplier "has excess stock to promote" when their 1996 shipped
    quantity of a widget part exceeds 20 % of that part's total 1996
    volume (the original's availqty > 0.5 × shipped becomes a
    market-share dominance test over the same derived relation). The
    nested IN-subquery chain collapses to: (part, supplier) agg → per-
    part window share (reuses the agg's key-compatible layout, no
    second fact scan) → broadcast part-name filter → distinct supplier
    semi-join against the broadcast EUROPE dim. One fact shuffle + one
    part-key window shuffle + one distinct on the tiny supplier set."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    supp = read_table(s, sf_dir, "supplier")
    nat, reg = read_table(s, sf_dir, "nation"), read_table(s, sf_dir, "region")
    part = read_table(s, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    qty = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1997-01-01"))
             .groupBy("l_partkey", "l_suppkey")
             .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sq")))
    w = qty.withColumn("tq", F.sum("sq")
                             .over(Window.partitionBy("l_partkey")))
    dominant = (w.join(F.broadcast(part),
                       F.col("l_partkey") == F.col("p_partkey"))
                 .filter(F.col("sq").cast("double")
                         > 0.2 * F.col("tq").cast("double"))
                 .select("l_suppkey").distinct())
    return (supp.join(dominant, supp.s_suppkey == F.col("l_suppkey"))
                .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
                .join(F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
                      nat.n_regionkey == reg.r_regionkey)
                .select("s_name", "s_acctbal", "n_name")
                .orderBy("s_name"))


# ---------------------------------------------------------------------------
# LLM text analysis, round 2: character entropy + winnowing fingerprints

@query("char_entropy_quality", """
WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
hist AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
tot AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n FROM hist GROUP BY doc_id)
SELECT doc_id, n AS n_chars_counted,
       CAST(SUM(CAST(round((k / (1.0 * n)) * log2(n / (1.0 * k)), 9)
                     AS DECIMAL(28,12))) AS DOUBLE) AS entropy_bits
FROM hist JOIN tot USING (doc_id)
GROUP BY doc_id, n
""")
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic cheap
    quality filter (low entropy ⇒ repetitive/boilerplate text; used
    alongside the Gopher rules). Plan: explode to (doc, char) with
    map-side partial counts → one shuffle on (doc, char) → per-doc
    rollup. Each term is rounded to 9 dp then summed through exact
    decimals, so the float accumulation is order-independent in both
    engines (the tfidf convention)."""
    d = read_table(_spark(spark), sf_dir, "documents")
    hist = (d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
             .groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k")))
    tot = hist.groupBy("doc_id").agg(F.sum("k").cast("long").alias("n"))
    term = F.round((F.col("k") / (1.0 * F.col("n")))
                   * F.log2(F.col("n") / (1.0 * F.col("k"))), 9)
    return (hist.join(tot, "doc_id")
                .groupBy("doc_id", F.col("n").alias("n_chars_counted"))
                .agg(F.sum(term.cast("decimal(28,12)")).cast("double")
                      .alias("entropy_bits")))


@query("winnowing_fingerprints", """
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 8 + 2, 1))) AS p
  FROM documents
), g AS (
  SELECT doc_id, p, md5(substr(text, CAST(p AS INTEGER), 8)) AS h FROM pos
), sel AS (
  SELECT doc_id, p,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
  FROM g
  QUALIFY p <= max(p) OVER (PARTITION BY doc_id) - 3
)
SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS n_fp, min(s) AS min_fp
FROM sel GROUP BY doc_id
""")
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every 8-char k-gram, slide a 4-hash window,
    keep each window's minimum — guaranteed-coverage fingerprints for
    robust substring-level duplicate detection (the step up from
    whole-doc hashing that exact-substring dedup pipelines use).

    Plan: the k-gram hashes, the sliding min, and the distinct count
    are all per-document, so they run as array higher-order functions
    inside one projection — no explode, no window sort, no text column
    riding a data-sized shuffle. (An earlier form exploded one row per
    k-gram and paid two window passes over a shuffle carrying the full
    text.) The only exchange is a deliberate repartition of the RAW
    text: this operator is compute-bound (one md5 per character), so
    input splits must be sized for CPU, not IO — a small parquet file
    arrives as one partition and would serialize the whole corpus onto
    one core (the input-split remedy measured in
    scripts/bench_scale_curve.py). For multi-MB documents where the
    per-row hash array would bloat executor memory, the explode+window
    form is the spill-safe fallback; at feed-document sizes this is
    the right plan. Documents shorter than k+w-1 chars yield no full
    window and drop out in both engines."""
    d = read_table(_spark(spark), sf_dir, "documents")
    # k-grams via substring(text, i, 8) DIRECTLY — not a hoisted
    # split(text,'') char array. The round-5 hoist assumed substring's
    # codepoint seek is O(i) (O(chars²)/doc); measured on this Spark
    # build (NOTES_r6: 300..80k-char docs, ASCII and non-ASCII, warm
    # best-of-2) substring wins at EVERY length by 10-30% — the
    # per-char 1-element-string allocations of split() cost more than
    # the seek ever does. Identical hash inputs either way.
    hs = F.expr(
        "transform(sequence(1, length(text) - 7), "
        "i -> md5(substring(text, i, 8)))")
    wins = F.expr(
        "transform(sequence(0, size(hs) - 4), "
        "i -> array_min(slice(hs, i + 1, 4)))")
    # length >= 11 = k + w - 1 guarantees sequence() bounds ascend
    return (_spread(d.filter(F.length("text") >= 11)
                     .select("doc_id", "text"), _spark(spark))
             .select("doc_id", hs.alias("hs"))
             .select("doc_id", wins.alias("w"))
             .select("doc_id",
                     F.size(F.array_distinct("w")).cast("long").alias("n_fp"),
                     F.array_min("w").alias("min_fp")))


@query("containment_dup_pairs", """
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 8 + 2, 1))) AS p
  FROM documents
), g AS (
  SELECT doc_id, p, md5(substr(text, CAST(p AS INTEGER), 8)) AS h FROM pos
), sel AS (
  SELECT doc_id, p,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
  FROM g
  QUALIFY p <= max(p) OVER (PARTITION BY doc_id) - 3
), fp AS (SELECT DISTINCT doc_id, s FROM sel),
keepfp AS (SELECT s FROM fp GROUP BY s HAVING COUNT(*) <= 50),
f2 AS (SELECT fp.doc_id, fp.s FROM fp JOIN keepfp USING (s)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM f2 GROUP BY doc_id),
inter AS (SELECT a.doc_id AS contained, b.doc_id AS container,
                 COUNT(*) AS i
          FROM f2 a JOIN f2 b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT contained, container, round(i / (1.0 * sz.n), 6) AS containment
FROM inter JOIN sz ON sz.doc_id = inter.contained
WHERE round(i / (1.0 * sz.n), 6) >= 0.5
""")
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup — doc-in-doc detection (Broder's containment
    coefficient over winnowing fingerprints): ``containment(A ⊆ B) =
    |fp(A) ∩ fp(B)| / |fp(A)|``. The ASYMMETRIC case symmetric Jaccard
    misses: a short document quoted wholesale inside a long one has
    tiny Jaccard but containment ≈ 1 — exactly the nested-boilerplate/
    quotation duplication a curation pipeline wants to catch.

    Scale shape: fingerprints are CONTENT-keyed (the winnowing window
    mins), so the self-join's bucket sizes track shared content, not
    corpus size; the stop-fingerprint filter (doc frequency ≤ 50, the
    MOSS discipline) caps boilerplate fan-out, bounding candidate work
    at 50 × |fp rows|. One fingerprint-keyed exchange + one pair-keyed
    aggregation; denominators use the SAME filtered fingerprint sets
    on both sides so the ratio is internally consistent."""
    d = read_table(_spark(spark), sf_dir, "documents")
    hs = F.expr(
        "transform(sequence(1, length(text) - 7), "
        "i -> md5(substring(text, i, 8)))")
    wins = F.expr(
        "transform(sequence(0, size(hs) - 4), "
        "i -> array_min(slice(hs, i + 1, 4)))")
    fp = (_spread(d.filter(F.length("text") >= 11)
                   .select("doc_id", "text"), _spark(spark))
          .select("doc_id", hs.alias("hs"))
          .select("doc_id", wins.alias("w"))
          .select("doc_id",
                  F.explode(F.array_distinct("w")).alias("s")))
    fp = persist_once(fp)
    keep = (fp.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
              .filter(F.col("_df") <= 50).select("s"))
    f2 = persist_once(fp.join(keep, "s", "left_semi"))
    sz = f2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = f2.select(F.col("doc_id").alias("contained"), "s")
    b = f2.select(F.col("doc_id").alias("container"), "s")
    inter = (a.join(b, "s")
              .filter(F.col("contained") != F.col("container"))
              .groupBy("contained", "container")
              .agg(F.count(F.lit(1)).alias("i")))
    out = (inter.join(sz.withColumnRenamed("doc_id", "contained"),
                      "contained")
           .select("contained", "container",
                   F.round(F.col("i") / (1.0 * F.col("n")), 6)
                    .alias("containment")))
    return out.filter(F.col("containment") >= 0.5)


# ---------------------------------------------------------------------------
# Multimodal feature extraction (deterministic fake encoder, end-to-end)

@query("multimodal_features", """
WITH ch AS (SELECT doc_id, ascii(c) // 16 AS bin FROM
            (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)),
cnt AS (SELECT doc_id, bin, COUNT(*) AS k FROM ch GROUP BY doc_id, bin),
bins AS (SELECT doc_id, b.bin FROM documents,
         (SELECT unnest(range(0, 16)) AS bin) b),
dense AS (SELECT bins.doc_id, bins.bin, CAST(COALESCE(cnt.k, 0) AS BIGINT) AS k
          FROM bins LEFT JOIN cnt
            ON bins.doc_id = cnt.doc_id AND bins.bin = cnt.bin),
nrm AS (SELECT doc_id, sqrt(CAST(SUM(k * k) AS DOUBLE)) AS nrm
        FROM dense GROUP BY doc_id)
SELECT d.doc_id AS content_id,
       array_to_string(array_agg(printf('%.9f',
           round(k / (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END), 9))
           ORDER BY bin), ',') AS emb_csv
FROM dense d JOIN nrm USING (doc_id)
GROUP BY d.doc_id
""")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction END-TO-END: wrap the document text
    as an opaque binary payload with typed metadata (``to_multimodal``),
    then run the Arrow-batched ``mapInPandas`` encoder
    (``extract_features``, deterministic byte-histogram backend — the
    seam a real image/audio model plugs into). The oracle recomputes the
    16-bin byte histogram in SQL (documents are ASCII, so codepoints =
    utf-8 bytes); the embedding is emitted as ``%.9f`` CSV so float
    formatting is engine-invariant. Proves the full binary-column →
    Arrow → Python → dense-vector pipeline, not just the plumbing."""
    from .operators.llm.multimodal import extract_features, to_multimodal

    d = read_table(_spark(spark), sf_dir, "documents")
    mm = to_multimodal(d, id_col="doc_id", payload_col="text",
                       media_type="text", source_col="source")
    feats = extract_features(mm, backend="histogram")
    return feats.select(
        "content_id",
        F.expr("concat_ws(',', transform(embedding, "
               "x -> format_string('%.9f', x)))").alias("emb_csv"))


@query("session_window_agg", """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
g AS (SELECT user_id, event_id, tus,
        CASE WHEN LAG(tus) OVER w IS NULL
                  OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (SELECT user_id, tus,
        CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM g)
SELECT user_id,
       MIN(tus) AS session_start_us,
       MAX(tus) + 1800000000 AS session_end_us,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_no
""")
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (30-min inactivity gap) — the
    operator that runs unchanged under Structured Streaming with
    watermarked state eviction, here proven equal to the explicit
    gaps-and-islands SQL construction (``sessionize_events``'s oracle
    family): window.start = first event, window.end = last event + gap.
    Batch plan: one shuffle on user_id, sessions merged inside the
    aggregation — no lag/running-sum chain needed."""
    ev = read_events(_spark(spark), sf_dir)
    sw = (ev.groupBy("user_id",
                     F.session_window("ts", "30 minutes").alias("sw"))
            .agg(F.count(F.lit(1)).alias("n_events")))
    return sw.select(
        "user_id",
        F.unix_micros(F.col("sw.start")).alias("session_start_us"),
        F.unix_micros(F.col("sw.end")).alias("session_end_us"),
        "n_events")


@query("dedup_pipeline_summary", """
WITH comp AS ({comp})
SELECT comp.component AS rep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(SUM(CASE WHEN comp.doc_id <> comp.component
                THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(d.n_chars) AS BIGINT) AS cluster_chars
FROM comp JOIN documents d ON comp.doc_id = d.doc_id
GROUP BY comp.component
""".format(comp=ORACLES["dup_components"]))
def dedup_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END near-dup pipeline a training-data run executes as
    ONE operator chain: shingle → MinHash signatures → LSH band buckets
    → candidate edges → connected components → canonical representative
    (min doc_id) → per-representative dedup decision (cluster size, docs
    removed, bytes covered). Every stage is the scale-safe form (banded
    self-join, Pregel-style label propagation — no all-pairs anywhere);
    the deduped corpus is the rep_doc_id set, and `n_removed` totals the
    discard decision the pipeline would apply."""
    comp = QUERIES["dup_components"](spark, sf_dir)
    docs = read_table(_spark(spark), sf_dir, "documents")
    return (comp.join(docs, "doc_id")
                .groupBy(F.col("component").alias("rep_doc_id"))
                .agg(F.count(F.lit(1)).alias("cluster_size"),
                     F.sum(F.when(F.col("doc_id") != F.col("component"), 1)
                            .otherwise(0)).cast("long").alias("n_removed"),
                     F.sum("n_chars").cast("long").alias("cluster_chars")))


# ---------------------------------------------------------------------------
# §2.10 UDTF surface: Python table function flattening CDC JSON payloads

def _json_kv_udtf_cls():
    """Python UDTF (PySpark 4 table-function API) exploding a JSON object
    column into (key, value-json) rows — the generic payload flattener
    for CDC props blobs. Defined lazily so import of this module never
    requires the UDTF API."""
    import json as _json

    from pyspark.sql.functions import udtf

    @udtf(returnType="k string, v string")
    class JsonKV:
        def eval(self, props: str):
            if props:
                for k, v in _json.loads(props).items():
                    yield (k, _json.dumps(v))

    return JsonKV


@query("udtf_json_kv", """
WITH keys AS (
  SELECT event_id, props, unnest(json_keys(props)) AS k FROM events
)
SELECT event_id, k,
       CAST(json_extract(props, '$.' || k) AS VARCHAR) AS v
FROM keys
""")
def udtf_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 UDTF surface: a Python user-defined TABLE function applied
    laterally per row — flattens each event's JSON props object into
    (key, value) rows (the generic form of the reference's JSON
    traversal F5). Completes the UDF triad alongside the Pandas scalar
    UDFs (`embedding_topk_pandas`) and grouped-map UDAF
    (`grouped_centroids_pandas`). Row-based Python is the slow path by
    design — the F5 ``get_json_object``/``from_json`` builtins remain
    the hot-path form; this pins the extension-point API."""
    ev = read_events(_spark(spark), sf_dir)
    spark.udtf.register("json_kv_udtf", _json_kv_udtf_cls())
    ev.select("event_id", "props").createOrReplaceTempView("__ev_udtf_src")
    return spark.sql("""
        SELECT event_id, t.k, t.v
        FROM __ev_udtf_src, LATERAL json_kv_udtf(props) AS t
    """)


@query("q13_customer_distribution", """
WITH c_orders AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
""")
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: LEFT join keeps
    zero-order customers (COUNT of the nullable key counts only matched
    rows), then a histogram over the per-customer counts. Two
    aggregations, each one shuffle; the second input is
    customer-cardinality — always small relative to the fact."""
    s = _spark(spark)
    cust, orders = read_table(s, sf_dir, "customer"), read_table(s, sf_dir, "orders")
    c_orders = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
    return (c_orders.groupBy("c_count")
                    .agg(F.count(F.lit(1)).alias("custdist")))


# ---------------------------------------------------------------------------
# Training-pipeline round 3: PII redaction, C4-style segment dedup,
# unigram-LM perplexity, bloom-filter incremental dedup.

from .operators.llm.pii import EMAIL_RE, PHONE_RE, IPV4_RE, redact_pii  # noqa: E402

_PII_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         concat_ws(' ', text,
           CASE WHEN doc_id %% 3 = 0
                THEN 'user' || CAST(doc_id AS VARCHAR) || '@example.com' END,
           CASE WHEN doc_id %% 3 = 1
                THEN '555-010-' || lpad(CAST(doc_id %% 10000 AS VARCHAR), 4, '0') END,
           CASE WHEN doc_id %% 2 = 0
                THEN '10.0.' || CAST(doc_id %% 256 AS VARCHAR) || '.'
                     || CAST((doc_id * 7) %% 256 AS VARCHAR) END
         ) AS t
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(t,
      '%(email)s', '<EMAIL>', 'g'),
      '%(phone)s', '<PHONE>', 'g'),
      '%(ip)s', '<IP>', 'g') AS text_redacted,
  CAST(len(regexp_extract_all(t, '%(email)s')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '%(phone)s')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(t, '%(ip)s')) AS BIGINT) AS n_ips
FROM aug
""" % {"email": EMAIL_RE, "phone": PHONE_RE, "ip": IPV4_RE}


@query("pii_redact", _PII_ORACLE)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators.llm.pii): the synthetic corpus carries
    no PII, so the query first injects deterministic PII-shaped strings
    (email / NANP phone / IPv4, keyed off doc_id so both engines build
    the identical input), then runs the redactor. Pure regexp_replace /
    regexp_extract_all — no shuffle, no UDF; scales embarrassingly."""
    d = read_table(_spark(spark), sf_dir, "documents")
    did = F.col("doc_id")
    email = F.when(did % 3 == 0, F.concat(
        F.lit("user"), did.cast("string"), F.lit("@example.com")))
    phone = F.when(did % 3 == 1, F.concat(
        F.lit("555-010-"), F.lpad((did % 10000).cast("string"), 4, "0")))
    ip = F.when(did % 2 == 0, F.concat(
        F.lit("10.0."), (did % 256).cast("string"), F.lit("."),
        ((did * 7) % 256).cast("string")))
    aug = d.select("doc_id",
                   F.concat_ws(" ", F.col("text"), email, phone, ip)
                    .alias("text"))
    return redact_pii(aug).select("doc_id", "text_redacted",
                                  "n_emails", "n_phones", "n_ips")


_SEG_K = 5


@query("segment_dedup_docs", f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t,
               unnest(range(0, CAST(ceil(len(t) / {_SEG_K}.0) AS BIGINT))) AS i
        FROM toks),
segs AS (SELECT doc_id, i AS seg_idx,
                array_to_string(t[i*{_SEG_K}+1 : i*{_SEG_K}+{_SEG_K}], ' ') AS seg
         FROM idx),
rk AS (SELECT doc_id, seg_idx, seg,
              ROW_NUMBER() OVER (PARTITION BY seg
                  ORDER BY doc_id, seg_idx) AS rn
       FROM segs)
SELECT doc_id,
  COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1),
           '') AS text_dedup,
  CAST(COUNT(*) AS BIGINT) AS n_segments,
  CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
FROM rk GROUP BY doc_id
""")
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Dolma-style span-level exact dedup (operators.llm.segdedup):
    every repeated {_SEG_K}-word segment after its corpus-wide first
    occurrence is removed and documents are reassembled. Two shuffles
    total (segment window + doc_id regroup), both O(corpus)."""
    from .operators.llm.segdedup import segment_dedup
    d = read_table(_spark(spark), sf_dir, "documents")
    return segment_dedup(d, k=_SEG_K)


@query("unigram_perplexity", """
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
cnt AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
lp AS (SELECT w, CAST(round(log2(c / (1.0 * n_total)), 9)
                      AS DECIMAL(28,9)) AS lp
       FROM cnt, tot),
j AS (SELECT doc_id, lp FROM words JOIN lp USING (w)),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp2
        FROM j GROUP BY doc_id)
SELECT doc_id, n_tokens, avg_logp2,
       round(pow(2.0, -avg_logp2), 4) AS ppl
FROM agg
""")
def unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/Gopher-style LM quality signal (operators.llm.lm): fit a
    unigram model on the corpus (one vocab-sized shuffle), broadcast it,
    score per-doc mean log2-prob and perplexity. Per-token logs are
    decimal-accumulated so the sum is order-independent (float parity
    with the oracle). A KenLM scorer drops in behind the same
    (token → logprob) contract as an Arrow UDF."""
    from .operators.llm.lm import unigram_fit, doc_perplexity
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    return doc_perplexity(d, unigram_fit(d))


_BLOOM_M = 32    # deliberately small so the fp class is populated at sf

_BLOOM_POS_SQL = """unnest([
   ('0x' || substr(md5(key), 1, 7))::BIGINT %% {mb},
   ('0x' || substr(md5(key), 9, 7))::BIGINT %% {mb},
   ('0x' || substr(md5(key), 17, 7))::BIGINT %% {mb}]) AS p""".replace(
    "%%", "%").format(mb=_BLOOM_M * 62)


@query("bloom_dedup_incremental", f"""
WITH d AS (SELECT doc_id,
                  array_to_string(string_split(text, ' ')[1:5], ' ') AS key
           FROM documents),
seen AS (SELECT * FROM d WHERE doc_id % 2 = 0),
newd AS (SELECT * FROM d WHERE doc_id % 2 = 1),
pos AS (SELECT doc_id, {_BLOOM_POS_SQL} FROM seen),
bloom AS (SELECT p // 62 AS word,
                 bit_or(1::BIGINT << CAST(p % 62 AS INTEGER)) AS mask
          FROM pos GROUP BY word),
npos AS (SELECT doc_id, {_BLOOM_POS_SQL} FROM newd),
probe AS (SELECT n.doc_id,
                 COALESCE((b.mask >> CAST(n.p % 62 AS INTEGER)) & 1, 0) AS hit
          FROM npos n LEFT JOIN bloom b ON n.p // 62 = b.word),
mp AS (SELECT doc_id, MIN(hit) = 1 AS maybe_seen FROM probe GROUP BY doc_id),
ts AS (SELECT doc_id, key IN (SELECT key FROM seen) AS truly_seen FROM newd)
SELECT doc_id, maybe_seen, truly_seen,
       CASE WHEN maybe_seen AND truly_seen THEN 'dup'
            WHEN maybe_seen THEN 'fp' ELSE 'new' END AS verdict
FROM mp JOIN ts USING (doc_id)
""")
def bloom_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup via bloom filter
    (operators.llm.bloom): the 'seen' half of the corpus compresses to a
    (word, mask) bitset; the 'new' half probes it with 3 md5-derived
    hashes (broadcast join — the history is never re-shuffled). The
    exact confirmation join prices the false positives: the output
    labels each new doc dup / fp / new, and the fp count IS the measured
    bloom error at this (m, k, n). Dedup key = 5-word prefix (the
    corpus has no full-text dups)."""
    from .operators.llm.bloom import bloom_build, bloom_probe
    d = read_table(_spark(spark), sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 5), " ").alias("key"))
    seen = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    bloom = bloom_build(seen, F.col("key"), m_words=_BLOOM_M)
    probed = bloom_probe(new, bloom, F.col("key"), m_words=_BLOOM_M)
    truly = (new.join(seen.select("key").distinct()
                         .withColumn("truly_seen", F.lit(True)),
                      "key", "left")
                .select("doc_id",
                        F.coalesce("truly_seen", F.lit(False))
                         .alias("truly_seen")))
    return (probed.join(truly, "doc_id")
                  .select("doc_id", "maybe_seen", "truly_seen",
                          F.when(F.col("maybe_seen") & F.col("truly_seen"),
                                 "dup")
                           .when(F.col("maybe_seen"), "fp")
                           .otherwise("new").alias("verdict")))


# ---------------------------------------------------------------------------
# TPC-H fill-in: q10/q14/q19/q9-shaped (the remaining queries expressible
# without a partsupp table; q2/q11/q16/q20 need ps_supplycost/availqty).

@query("q10_returned_items", """
SELECT c_custkey, c_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
       AS DOUBLE) AS revenue,
  c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item reporting: which customers
    returned the most revenue in a quarter. The quarter predicate
    pushes into the orders scan and prunes the fact join before the
    shuffle; customer and nation broadcast. Deterministic top-20
    tie-break on c_custkey."""
    s = _spark(spark)
    orders = read_table(s, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
    li = read_table(s, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = read_table(s, sf_dir, "customer")
    nat = read_table(s, sf_dir, "nation")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
              .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
              .agg(_dec_sum(disc_price, "revenue"))
              .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
              .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
              .limit(20))


@query("q14_promo_revenue", """
SELECT CAST(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
            THEN l_extendedprice * (1 - l_discount) ELSE 0 END
            AS DECIMAL(18,6))) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(18,6))) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share for one ship month. The
    month predicate pushes into the lineitem scan; part broadcasts;
    the whole query is one scan + broadcast join + scalar agg (the
    conditional and unconditional sums accumulate in the same pass).
    Both sums use exact decimal accumulation; the ratio is a single
    double division at the end."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
    part = read_table(s, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .agg((F.lit(100.0)
                    * F.sum(promo.cast(DEC)).cast("double")
                    / F.sum(disc_price.cast(DEC)).cast("double"))
                   .cast("double").alias("promo_revenue_pct")))


@query("q19_discounted_revenue", """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
       AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""")
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive join predicate (adapted: the driver
    schema carries brand/size/quantity but no container/shipmode). The
    OR-of-conjunctions spans both sides of the join, so it can't push
    into either scan whole — but Catalyst derives the single-side
    residuals (quantity ≤ 30 on lineitem, brand∈set ∧ size ≤ 15 on
    part) and pushes those, shrinking the join inputs; part broadcasts
    and the disjunction evaluates on the join output in one pass."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    part = read_table(s, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b, sz, q = F.col("p_brand"), F.col("p_size"), F.col("l_quantity")
    cond = (((b == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
            | ((b == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
            | ((b == "Brand#4") & sz.between(1, 15) & q.between(20, 30)))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(cond).agg(_dec_sum(disc_price, "revenue"))


@query("q9_nation_year_profit", """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
""")
def q9_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-line profit by supplier nation × order
    year (adapted: no partsupp table, so profit = discounted revenue
    without the supplycost term). The p_name LIKE filter prunes part
    BEFORE it broadcasts into the fact, so the semi-join effect of the
    part filter reaches lineitem at the join, not after; supplier and
    nation broadcast; the only shuffle is lineitem⨝orders on the order
    key, then a 2-level group-by whose partial aggregation collapses
    (nation × year) to a few hundred rows before the exchange."""
    s = _spark(spark)
    li = read_table(s, sf_dir, "lineitem")
    part = read_table(s, sf_dir, "part").filter(
        F.col("p_name").like("%widget%"))
    supp = read_table(s, sf_dir, "supplier")
    orders = read_table(s, sf_dir, "orders")
    nat = read_table(s, sf_dir, "nation")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("o_orderdate").cast("long").alias("o_year"))
              .agg(_dec_sum(disc_price, "sum_profit")))


@query("interval_join_clicks_buys", """
WITH c AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'click'),
b AS (SELECT user_id, event_id, ts, "value" FROM events
      WHERE event_type = 'purchase')
SELECT c.user_id AS l_user_id, c.event_id AS l_event_id,
       b.event_id AS r_event_id, b."value" AS r_value
FROM c JOIN b ON c.user_id = b.user_id
 AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 10 MINUTE
""")
def interval_join_clicks_buys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (streaming/joins.py `interval_join`):
    purchases landing within 10 minutes after a click by the same user.
    The SAME operator runs on two live streams with watermark-bounded
    state (test_streaming_depth proves stream ≡ batch); this batch form
    is the driver-oracled correctness anchor. Plan: equality on user_id
    is the join key with the time range as residual — broadcast-hash at
    test scale (AQE), sort-merge with one shuffle per side at scale;
    never a cross product."""
    from .streaming.joins import interval_join
    ev = read_events(_spark(spark), sf_dir)
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", "event_id", "ts"))
    buys = (ev.filter(F.col("event_type") == "purchase")
              .select("user_id", "event_id", "ts", "value"))
    out = interval_join(clicks, buys, "user_id", interval="10 minutes")
    return out.select("l_user_id", "l_event_id", "r_event_id",
                      F.col("r_value").alias("r_value"))


@query("quality_weighted_sample", """
SELECT doc_id,
       least(1.0, n_chars / 400.0) AS w,
       ('0x' || substr(md5('qs|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
         / 268435456.0 AS u,
       ('0x' || substr(md5('qs|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
         / 268435456.0 < least(1.0, n_chars / 400.0) AS kept
FROM documents
""")
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted subsampling — the curriculum/mixture op that
    downsamples low-value documents by an acceptance probability
    instead of a hard filter. Deterministic and resumable: the uniform
    draw is a seeded md5 of the doc id (u = 28-bit hash / 2^28, exact
    in double), so re-runs keep the identical subset — no RNG state, no
    shuffle, embarrassingly parallel, and the same rows drop on Spark
    and the oracle. Weight here = length-based quality proxy
    (min(1, n_chars/400)); any scored column plugs in."""
    d = read_table(_spark(spark), sf_dir, "documents")
    u = (F.conv(F.substring(
            F.md5(F.concat(F.lit("qs|"), F.col("doc_id").cast("string"))
                   .cast("binary")), 1, 7), 16, 10)
          .cast("double") / F.lit(float(1 << 28)))
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    return d.select("doc_id", w.alias("w"), u.alias("u"),
                    (u < w).alias("kept"))


@query("source_overlap_matrix", """
WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT source, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT source, array_to_string(t[i:i+2], ' ') AS sh FROM idx),
sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
inter AS (SELECT a.source AS src_a, b.source AS src_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
          GROUP BY a.source, b.source)
SELECT src_a, src_b, n_common,
       round(n_common / (1.0 * (sa.n + sb.n - n_common)), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
""")
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus forensics: pairwise shingle-set Jaccard overlap BETWEEN
    SOURCES — the aggregate view of cross-source duplication
    (mirror detection, licensing audits) where the doc-level ops give
    pairs. Same scale shape as ngram_jaccard_pairs: the self-join is
    keyed on the shingle (blocked, uniform), never doc×doc or
    source×source over raw text; per-source set sizes broadcast into
    the final 10-row join."""
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("source", "text"), s)
    t = d.select("source", F.split("text", " ").alias("t"))
    sh3 = F.expr("transform(sequence(1, size(t) - 2), "
                 "i -> array_join(slice(t, i, 3), ' '))")
    sh = (t.filter(F.size("t") >= 3)
           .select("source", F.explode(sh3).alias("sh")).distinct())
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.source") < F.col("b.source")))
              .groupBy(F.col("a.source").alias("src_a"),
                       F.col("b.source").alias("src_b"))
              .agg(F.count(F.lit(1)).alias("n_common")))
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (inter.join(F.broadcast(sa), "src_a")
                 .join(F.broadcast(sb), "src_b")
                 .select("src_a", "src_b", "n_common",
                         F.round(F.col("n_common")
                                 / (1.0 * (F.col("na") + F.col("nb")
                                           - F.col("n_common"))), 6)
                          .alias("jaccard")))


def _bpe_round_ctes(k: int) -> str:
    """One unrolled BPE round: tokenize the sentinel-wrapped corpus
    string, count adjacent pairs, pick the (count desc, a, b) winner,
    and rewrite via ``replace`` — plain substring replace is left-to-
    right non-overlapping, which IS the greedy BPE application rule
    (per-token \\x1f…\\x1e wrappers make the pattern self-contained, so
    consecutive matches never share a boundary character)."""
    prev = f"t{k - 1}"
    return f"""
a{k} AS (SELECT string_split(substr(s, 2, length(s) - 2),
                             chr(30)||chr(31)) AS t FROM {prev}),
p{k} AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS c FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> struct_pack(a := t[i], b := t[i+1]))) AS p
    FROM a{k} WHERE len(t) >= 2) GROUP BY p.a, p.b),
w{k} AS (SELECT a, b, CAST(c AS BIGINT) AS c FROM p{k}
         ORDER BY c DESC, a, b LIMIT 1),
t{k} AS (SELECT {prev}.doc_id,
                replace({prev}.s, chr(31)||w.a||chr(30)||chr(31)||w.b||chr(30),
                        chr(31)||w.a||w.b||chr(30)) AS s FROM {prev}, w{k} w)"""


_BPE_SQL = (
    "WITH t0 AS (SELECT doc_id, chr(31) || replace(text, ' ', "
    "chr(30)||chr(31)) || chr(30) AS s FROM documents),"
    + ",".join(_bpe_round_ctes(k) for k in range(1, 6))
    + """
SELECT * FROM (
  SELECT CAST(0 AS INTEGER) AS "rank", a AS "left", b AS "right",
         c AS freq FROM w1
  UNION ALL SELECT 1, a, b, c FROM w2
  UNION ALL SELECT 2, a, b, c FROM w3
  UNION ALL SELECT 3, a, b, c FROM w4
  UNION ALL SELECT 4, a, b, c FROM w5)""")


@query("bpe_merges", _BPE_SQL)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction (operators.llm.bpe): 5 merge rounds over
    the corpus; returns the learned merge table (rank, left, right,
    freq). Iterative with data-dependent winners — but the merge COUNT
    is fixed (5), so the oracle unrolls the loop into 5 CTE rounds (the
    ``_KMEANS_SQL`` move): pair-count → top-1 winner → greedy rewrite,
    where the rewrite rides DuckDB ``replace`` over a sentinel-wrapped
    token string (left-to-right non-overlapping substring replace ==
    the BPE application rule). The pytest suite additionally verifies
    against a pure-Python reference BPE (tests/test_bpe.py)."""
    from .operators.llm.bpe import bpe_train
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents"), s)
    merges, _ = bpe_train(d, n_merges=5)
    return s.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, left string, right string, freq long")


@query("bpe_encode_tokens", _BPE_SQL.replace(
    "SELECT * FROM (", "__ENCODE__").split("__ENCODE__")[0] + """
SELECT t5.doc_id,
       CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_tokens_before,
       CAST(len(string_split(substr(t5.s, 2, length(t5.s) - 2),
                             chr(30)||chr(31))) AS INTEGER) AS n_tokens
FROM t5 JOIN documents d ON d.doc_id = t5.doc_id
""")
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY — the other half of the BPE story: run every
    document through the 5 learned merges in order (greedy
    left-to-right per merge) and report per-doc token counts before and
    after.  One Arrow ``mapInPandas`` pass applies all merges (the
    merge table is k driver-side pairs); the oracle replays the same
    chain as 5 sequential sentinel-string ``replace`` rounds and counts
    tokens from the final string."""
    from .operators.llm.bpe import bpe_encode, bpe_train
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents"), s)
    merges, _ = bpe_train(d, n_merges=5)
    enc = bpe_encode(d, [(a, b) for a, b, _ in merges])
    before = d.select("doc_id",
                      F.size(F.split("text", " ")).alias("n_tokens_before"))
    return (enc.select("doc_id", F.size("t").alias("n_tokens"))
               .join(before, "doc_id")
               .select("doc_id", "n_tokens_before", "n_tokens"))


_CMS_W = 256   # buckets per hash row (d=3 rows, md5-substring hashes)

_CMS_POS = ["('0x' || substr(md5(w), {o}, 7))::BIGINT % {W}".format(o=o, W=_CMS_W)
            for o in (1, 9, 17)]


@query("countmin_heavy_hitters", f"""
WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
cells AS (
  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT 0 AS j, {_CMS_POS[0]} AS bucket FROM words
    UNION ALL SELECT 1, {_CMS_POS[1]} FROM words
    UNION ALL SELECT 2, {_CMS_POS[2]} FROM words)
  GROUP BY j, bucket),
exact AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY w
          ORDER BY c DESC, w LIMIT 10),
probes AS (
  SELECT w, c, 0 AS j, {_CMS_POS[0]} AS bucket FROM exact
  UNION ALL SELECT w, c, 1, {_CMS_POS[1]} FROM exact
  UNION ALL SELECT w, c, 2, {_CMS_POS[2]} FROM exact)
SELECT p.w, p.c AS exact_count, MIN(cells.cnt) AS est_count,
       MIN(cells.cnt) - p.c AS overestimate
FROM probes p JOIN cells ON p.j = cells.j AND p.bucket = cells.bucket
GROUP BY p.w, p.c
""")
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch completing the sketch family (HLL distinct,
    approx quantiles, CMS frequency): the corpus word stream folds into
    a fixed d×w = 3×256 cell grid (one explode + one groupBy whose
    output size is the GRID, independent of corpus size — the mergeable
    summary you'd ship from every partition at 100 TB), then the exact
    top-10 words probe it. CMS guarantees est ≥ exact (no false
    under-counting), with overestimate bounded by collisions — both
    visible in the output, and the oracle recomputes the identical
    sketch so the property is hash-verified, not just asserted."""
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents").select("text"), s)
    words = d.select(F.explode(F.split("text", " ")).alias("w"))

    def bucket(col, off):
        return (F.conv(F.substring(F.md5(col.cast("binary")), off, 7), 16, 10)
                 .cast("long") % F.lit(_CMS_W))

    cell_src = words.select(F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), bucket(F.col("w"), o).alias("bucket"))
        for j, o in enumerate((1, 9, 17))])).alias("p"))
    cells = (cell_src.select("p.j", "p.bucket")
                     .groupBy("j", "bucket")
                     .agg(F.count(F.lit(1)).alias("cnt")))
    exact = (words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
                  .orderBy(F.col("c").desc(), "w").limit(10))
    probes = union_epochs([
        exact.select("w", "c", F.lit(j).alias("j"),
                     bucket(F.col("w"), o).alias("bucket"))
        for j, o in enumerate((1, 9, 17))])
    return (probes.join(F.broadcast(cells), ["j", "bucket"])
                  .groupBy("w", F.col("c").alias("exact_count"))
                  .agg(F.min("cnt").alias("est_count"))
                  .select("w", "exact_count", "est_count",
                          (F.col("est_count") - F.col("exact_count"))
                           .alias("overestimate")))


@query("profile_orders", """
SELECT 'o_custkey' AS col,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_custkey) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_custkey) AS DOUBLE) AS min_v,
       CAST(MAX(o_custkey) AS DOUBLE) AS max_v
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(MIN(o_totalprice) AS DOUBLE),
       CAST(MAX(o_totalprice) AS DOUBLE)
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(o_orderstatus) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       NULL, NULL
FROM orders
""")
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling — the pre-ingest scan every pipeline runs to size
    and sanity-check a table (null rates, cardinalities, ranges; the
    batch analogue of the reference's JDBC metadata probe S5, over
    values instead of catalogs). One row per profiled column. Spark
    computes all three profiles in a single pass (one multi-aggregate,
    unioned projections of the same cached agg) — at 100 TB you pay one
    scan, not one per column; exact distincts shuffle per column, the
    approx_count_distinct swap is the documented knob when ±2 % is
    acceptable."""
    s = _spark(spark)
    o = read_table(s, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_ck"),
        F.count_distinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("double").alias("min_ck"),
        F.max("o_custkey").cast("double").alias("max_ck"),
        F.count("o_totalprice").alias("nn_tp"),
        F.count_distinct("o_totalprice").alias("nd_tp"),
        F.min("o_totalprice").cast("double").alias("min_tp"),
        F.max("o_totalprice").cast("double").alias("max_tp"),
        F.count("o_orderstatus").alias("nn_os"),
        F.count_distinct("o_orderstatus").alias("nd_os"))
    agg = persist_once(agg)
    rows = [
        agg.select(F.lit("o_custkey").alias("col"), "n_rows",
                   F.col("nn_ck").alias("n_nonnull"),
                   F.col("nd_ck").alias("n_distinct"),
                   F.col("min_ck").alias("min_v"),
                   F.col("max_ck").alias("max_v")),
        agg.select(F.lit("o_totalprice").alias("col"), "n_rows",
                   F.col("nn_tp").alias("n_nonnull"),
                   F.col("nd_tp").alias("n_distinct"),
                   F.col("min_tp").alias("min_v"),
                   F.col("max_tp").alias("max_v")),
        agg.select(F.lit("o_orderstatus").alias("col"), "n_rows",
                   F.col("nn_os").alias("n_nonnull"),
                   F.col("nd_os").alias("n_distinct"),
                   F.lit(None).cast("double").alias("min_v"),
                   F.lit(None).cast("double").alias("max_v")),
    ]
    return union_epochs(rows)


@query("embedding_ann_recall", """
WITH ivf AS ({ivf}),
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
      WHERE vec_id IN (5, 6, 7)),
c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM n
      WHERE vec_id NOT IN (5, 6, 7)),
s AS (SELECT qid, cid,
             round(list_sum(list_transform(range(1, 65), i -> qe[i] * ce[i]))
                   / (qn * cn), 6) AS sim
      FROM q, c),
exact AS (SELECT qid, cid FROM s
          QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY sim DESC, cid) <= 5)
SELECT exact.qid,
       CAST(COUNT(ivf.cid) AS BIGINT) AS n_hits,
       round(COUNT(ivf.cid) / 5.0, 6) AS recall_at_5
FROM exact LEFT JOIN ivf ON exact.qid = ivf.qid AND exact.cid = ivf.cid
GROUP BY exact.qid
""".format(ivf=ORACLES["embedding_ivf_ann"]))
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation — recall@5 of the IVF index against the exact
    brute-force ranking, per probe. This is the measurement loop that
    tunes nlist/nprobe in a real vector pipeline; running it IN the
    engine (one query over index + ground truth) is what makes index
    quality a monitored metric rather than a hope. Both rankings are
    deterministic (rounded sims, cid tie-break), so recall itself is
    driver-oracled."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    norm = F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    n = emb.withColumn("nrm", norm)
    probe_ids = [5, 6, 7]
    q = (n.filter(F.col("vec_id").isin(probe_ids))
          .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                  F.col("nrm").alias("qn")))
    c = (n.filter(~F.col("vec_id").isin(probe_ids))
          .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                  F.col("nrm").alias("cn")))
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    pairs = (c.crossJoin(F.broadcast(q))
              .select("qid", "cid",
                      F.round(dot / (F.col("qn") * F.col("cn")), 6)
                       .alias("sim")))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    exact = (pairs.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= 5).select("qid", "cid"))
    ivf = QUERIES["embedding_ivf_ann"](spark, sf_dir).select(
        F.col("qid").alias("iqid"), F.col("cid").alias("icid"))
    hit = (exact.join(ivf, (F.col("qid") == F.col("iqid"))
                      & (F.col("cid") == F.col("icid")), "left"))
    return (hit.groupBy("qid")
               .agg(F.count("icid").alias("n_hits"))
               .select("qid", "n_hits",
                       F.round(F.col("n_hits") / 5.0, 6)
                        .alias("recall_at_5")))


_SIMHASH_HAM_K = 3   # Hamming radius; 4 bands of 4 bits → pigeonhole cover


@query("simhash_near_pairs", """
WITH fp AS ({fp}),
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (4 * b)) & 15 AS bv
  FROM fp, (SELECT unnest(range(0, 4)) AS b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS fa, b.simhash AS fb
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fa, fb)) <= {k}
""".format(fp=ORACLES["simhash_docs"], k=_SIMHASH_HAM_K))
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CANDIDATE PAIRS (Manku et al. 2007, the web-dedup
    construction): fingerprints within Hamming ≤ 3 must agree exactly on
    at least one of 4 bit-bands (pigeonhole), so each doc enters 4
    band-keyed buckets and only bucket-mates are compared — never
    all-pairs. The Hamming check is one JVM ``bit_count(xor)`` per
    candidate. At production width (64-bit fp, 16-bit bands) buckets are
    fine-grained; at the oracle's 16-bit width the same plan shape
    verifies against DuckDB bit-for-bit."""
    from .operators.llm.simhash import simhash16
    s = _spark(spark)
    fp = persist_once(simhash16(read_table(s, sf_dir, "documents")))
    bands = union_epochs([
        fp.select("doc_id", "simhash", F.lit(b).alias("b"),
                  F.shiftright("simhash", 4 * b).bitwiseAND(F.lit(15))
                   .alias("bv"))
        for b in range(4)])
    a = bands.select(F.col("b").alias("jb"), F.col("bv").alias("jbv"),
                     F.col("doc_id").alias("doc_a"),
                     F.col("simhash").alias("fa"))
    b = bands.select(F.col("b").alias("jb"), F.col("bv").alias("jbv"),
                     F.col("doc_id").alias("doc_b"),
                     F.col("simhash").alias("fb"))
    cand = (a.join(b, ["jb", "jbv"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "fa", "fb").distinct())
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (cand.withColumn("hamming", ham.cast("long"))
                .filter(F.col("hamming") <= _SIMHASH_HAM_K)
                .drop("fa", "fb"))


_MINHASH_EST_SQL = "(CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END) + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) + (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) + (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END) + (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) + (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) + (CASE WHEN a.h8 = b.h8 THEN 1 ELSE 0 END) + (CASE WHEN a.h9 = b.h9 THEN 1 ELSE 0 END) + (CASE WHEN a.h10 = b.h10 THEN 1 ELSE 0 END) + (CASE WHEN a.h11 = b.h11 THEN 1 ELSE 0 END) + (CASE WHEN a.h12 = b.h12 THEN 1 ELSE 0 END) + (CASE WHEN a.h13 = b.h13 THEN 1 ELSE 0 END) + (CASE WHEN a.h14 = b.h14 THEN 1 ELSE 0 END) + (CASE WHEN a.h15 = b.h15 THEN 1 ELSE 0 END)"


@query("minhash_jaccard_accuracy", """
WITH sig AS ({sig}),
cand AS ({cand}),
est AS (
  SELECT c.doc_a, c.doc_b,
         round(({est_terms}) / 16.0, 6) AS est_jaccard
  FROM cand c JOIN sig a ON a.doc_id = c.doc_a
              JOIN sig b ON b.doc_id = c.doc_b),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh FROM idx),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
              JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
  GROUP BY c.doc_a, c.doc_b)
SELECT e.doc_a, e.doc_b, e.est_jaccard,
       round(COALESCE(ni, 0) / (1.0 * (sa.n + sb.n - COALESCE(ni, 0))), 6)
         AS exact_jaccard,
       round(abs(e.est_jaccard
             - COALESCE(ni, 0) / (1.0 * (sa.n + sb.n - COALESCE(ni, 0)))), 6)
         AS abs_err
FROM est e
LEFT JOIN inter ON inter.doc_a = e.doc_a AND inter.doc_b = e.doc_b
JOIN sizes sa ON sa.doc_id = e.doc_a
JOIN sizes sb ON sb.doc_id = e.doc_b
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS),
           cand=ORACLES["minhash_lsh_pairs"],
           est_terms=_MINHASH_EST_SQL))
def minhash_jaccard_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy — for every LSH candidate pair,
    signature-estimated Jaccard (matching components / 16) against the
    EXACT shingle-set Jaccard, with the absolute error in-band. This is
    the second evaluation operator (with embedding_ann_recall): the
    sketch's quality is a monitored query output, not an offline claim.
    Exact sets are only materialized for CANDIDATE pairs (25 at sf0.01)
    — the evaluation rides the LSH pruning, it never goes all-pairs."""
    s = _spark(spark)
    sig = persist_once(_minhash_sig_df(s, sf_dir))
    cand = QUERIES["minhash_lsh_pairs"](spark, sf_dir).select("doc_a", "doc_b")
    a = sig.select(F.col("doc_id").alias("doc_a"),
                   *[F.col(f"h{j}").alias(f"ha{j}") for j in range(16)])
    b = sig.select(F.col("doc_id").alias("doc_b"),
                   *[F.col(f"h{j}").alias(f"hb{j}") for j in range(16)])
    n_match = sum((F.col(f"ha{j}") == F.col(f"hb{j}")).cast("int")
                  for j in range(16))
    est = (cand.join(a, "doc_a").join(b, "doc_b")
               .select("doc_a", "doc_b",
                       F.round(n_match / F.lit(16.0), 6).alias("est_jaccard")))
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    t = d.select("doc_id", F.split("text", " ").alias("t"))
    sh3 = F.expr("transform(sequence(1, size(t) - 2), "
                 "i -> array_join(slice(t, i, 3), ' '))")
    sh = (t.filter(F.size("t") >= 3)
           .select("doc_id", F.explode(sh3).alias("sh")).distinct())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    shb = sh.select(F.col("doc_id").alias("doc_b2"),
                    F.col("sh").alias("shb"))
    inter = (cand.join(sha, "doc_a")
                 .join(shb, (F.col("doc_b") == F.col("doc_b2"))
                       & (F.col("sh") == F.col("shb")))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count(F.lit(1)).alias("ni")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    ex = F.coalesce(F.col("ni"), F.lit(0)) / (
        1.0 * (F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0))))
    return (est.join(inter, ["doc_a", "doc_b"], "left")
               .join(F.broadcast(sa), "doc_a")
               .join(F.broadcast(sb), "doc_b")
               .select("doc_a", "doc_b", "est_jaccard",
                       F.round(ex, 6).alias("exact_jaccard"),
                       F.round(F.abs(F.col("est_jaccard") - ex), 6)
                        .alias("abs_err")))


# ---------------------------------------------------------------------------
# Round-4: distributed k-means + SemDeDup-style semantic dedup

_KMEANS_SQL = """
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
              e AS ce
       FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 4),
d1 AS (SELECT v.vec_id, v.e, c.cid,
              list_sum(list_transform(range(1, 65),
                       i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS d2
       FROM v, c0 c),
a1 AS (SELECT vec_id, e, cid FROM d1
       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
m1 AS (SELECT cid, i,
              CAST(SUM(CAST(e[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       FROM a1, range(1, 65) t(i) GROUP BY cid, i),
c1 AS (SELECT cid, list(m ORDER BY i) AS ce FROM m1 GROUP BY cid),
d2_ AS (SELECT v.vec_id, v.e, c.cid,
               list_sum(list_transform(range(1, 65),
                        i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS d2
        FROM v, c1 c),
a2 AS (SELECT vec_id, e, cid, d2 FROM d2_
       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
m2 AS (SELECT cid, i,
              CAST(SUM(CAST(e[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       FROM a2, range(1, 65) t(i) GROUP BY cid, i),
c2 AS (SELECT cid, list(m ORDER BY i) AS ce FROM m2 GROUP BY cid),
d3_ AS (SELECT v.vec_id, v.e, c.cid,
               list_sum(list_transform(range(1, 65),
                        i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS d2
        FROM v, c2 c),
a3 AS (SELECT vec_id, e, cid, d2 FROM d3_
       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1)
"""


@query("embedding_kmeans", """
WITH {kmeans}
SELECT cid AS cluster_id, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(ROUND(d2 * 1000000, 0) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS sse
FROM a3 GROUP BY cid
""".format(kmeans=_KMEANS_SQL))
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=4, 2 iterations, deterministic
    lowest-id init — the ``embedding_ivf_ann`` convention) over the
    embedding corpus: per-cluster sizes + exact-decimal SSE.  Each
    iteration embeds the k×64 centroids as an array-of-structs literal
    and assigns by ``array_min`` over struct(distance, cid) — a
    shuffle-free codegen projection — then recomputes means via ONE
    posexplode+groupBy shuffle keyed by (cluster, dim); the collected
    state is k×64 scalars, control-plane sized.  Decimal
    accumulation makes means and SSE partition-order-invariant, which
    is what lets DuckDB replay the run bit-for-bit."""
    from .operators.llm.kmeans import kmeans_fit
    emb = read_table(_spark(spark), sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    assigned, _ = kmeans_fit(emb, k=4, iters=2)
    # SSE via integer-scaled micro-units: Spark ROUNDS double→decimal
    # casts while DuckDB truncates, so sub-representable decimal casts
    # diverge cross-engine; round-to-µ then exact BIGINT sum is
    # deterministic and order-free in both
    return (assigned.groupBy(F.col("cid").alias("cluster_id"))
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 (F.sum(F.round(F.col("_d2") * 1e6, 0).cast("long"))
                   .cast("double") / F.lit(1e6)).alias("sse")))


@query("semantic_dedup_pairs", """
WITH {kmeans},
n AS (SELECT vec_id, e, cid,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM a3),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid AS cluster_id,
             round(list_sum(list_transform(range(1, 65),
                            i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS sim
      FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cluster_id, sim FROM p WHERE sim >= 0.4
""".format(kmeans=_KMEANS_SQL))
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) candidate search: cluster with
    k-means, then look for near-duplicates ONLY within each cluster —
    pairwise work drops from O(n²) to Σ|cluster|² and parallelizes by
    cluster.  Deliberately not exact across cluster boundaries (that is
    ``embedding_dup_pairs``'s triangle-inequality job); the SemDeDup
    contract trades boundary recall for linear-ish scale.  The oracle
    replays clustering + within-cluster search exactly."""
    from .operators.llm.kmeans import semantic_dup_pairs
    emb = read_table(_spark(spark), sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    # max_cluster_size=None: the DuckDB oracle replays cluster-local
    # search with no hash-split; direct users get the "auto" cap
    return semantic_dup_pairs(emb, threshold=0.4, k=4, iters=2,
                              max_cluster_size=None)


@query("cdc_pg_dedup_latest", """
SELECT user_id, event_type, "value", props,
       event_id AS "KBC__BATCH_EVENT_ORDER"
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
    ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
""")
def cdc_pg_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postgres-component envelope flavor (reference
    ``ex_postgres_cdc/src/component.py:54-64``): no binlog FILE/POS
    system columns — the composite dedup order degrades to
    ``(KBC__EVENT_TIMESTAMP_MS, KBC__BATCH_EVENT_ORDER)``, with the
    batch order supplying the tie-break the LSN coordinates would.
    Proves ``order_sort_cols``'s optional-coordinate contract on the
    real dedup path (the MySQL flavor is ``cdc_dedup_latest``)."""
    from .engine import to_output_columns
    from .model.envelope import SYSTEM_COLUMNS as SC
    from .operators.dedup import dedup_latest
    from .operators.order import order_sort_cols

    ev = (read_cdc_events(_spark(spark), sf_dir)
          .drop(SC.file, SC.pos))
    out = dedup_latest(
        ev, ["user_id"],
        order_by=order_sort_cols(file_col=None,
                                 pos_col=SC.batch_event_order))
    return to_output_columns(out).select(
        "user_id", "event_type", "value", "props",
        "KBC__BATCH_EVENT_ORDER")


@query("semantic_dup_groups", """
WITH {kmeans},
n AS (SELECT vec_id, e, cid,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM a3),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_sum(list_transform(range(1, 65),
                  i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) >= 0.4),
nbr AS (SELECT vec_a AS vec_id, vec_b AS nb FROM p
        UNION ALL SELECT vec_b, vec_a FROM p
        UNION ALL SELECT vec_id, vec_id FROM n)
SELECT vec_id, MIN(nb) AS group_rep FROM nbr GROUP BY vec_id
""".format(kmeans=_KMEANS_SQL))
def semantic_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop labeling: each vector labeled with the min
    vec_id among its within-cluster near-dup neighbors (1-hop min-label
    propagation — the first round of the distributed connected-
    components loop; keep = rows where group_rep == vec_id).  Composes
    ``semantic_dup_pairs`` with the same label step ``lsh_dup_groups``
    uses, completing the cluster→pairs→groups→keep-list pipeline."""
    from .operators.llm.kmeans import semantic_dup_pairs
    emb = read_table(_spark(spark), sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    # both edge directions come out of ONE pass over the join (explode a
    # 2-element array) — no persist to leak, no second self-join
    both = F.explode(F.array(
        F.struct(F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("nb")),
        F.struct(F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("nb"))))
    nbr = union_epochs([
        semantic_dup_pairs(emb, threshold=0.4, k=4, iters=2,
                           max_cluster_size=None)
            .select(both.alias("_s")).select("_s.vec_id", "_s.nb"),
        emb.select("vec_id", F.col("vec_id").alias("nb")),
    ])
    return nbr.groupBy("vec_id").agg(F.min("nb").alias("group_rep"))


@query("dsir_select_docs", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
                  doc_id % 10 = 0 AS t FROM documents),
grams AS (
  SELECT doc_id, t, unnest(toks) AS g FROM d
  UNION ALL
  SELECT doc_id, t, toks[i] || ' ' || toks[i+1] AS g
  FROM d, UNNEST(range(1, len(toks))) AS r(i)),
b AS (SELECT doc_id, t,
             ('0x' || substr(md5(g), 1, 7))::BIGINT % 256 AS bkt FROM grams),
cnt AS (SELECT bkt,
               COUNT(*) FILTER (WHERE t) AS ct,
               COUNT(*) FILTER (WHERE NOT t) AS cr
        FROM b GROUP BY bkt),
tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
               CAST(SUM(cr) AS BIGINT) AS tr FROM cnt),
lam AS (SELECT bkt,
               CAST(round(log2((ct + 1.0) / (tt + 256.0))
                        - log2((cr + 1.0) / (tr + 256.0)), 9)
                    AS DECIMAL(28,9)) AS lam
        FROM cnt, tot),
w AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             round(CAST(SUM(lam) AS DOUBLE), 6) AS logw
      FROM b JOIN lam USING (bkt) WHERE NOT t GROUP BY doc_id)
SELECT doc_id, n_grams, logw,
       round(logw + round(-ln(-ln(
           (('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 7))
            ::BIGINT % 1000000 + 0.5) / 1000000.0)), 9), 6) AS sel_key
FROM w ORDER BY sel_key DESC, doc_id LIMIT 100
""")
def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023; operators.llm.dsir):
    hashed unigram+bigram bucket distributions for a target split
    (doc_id % 10 == 0, the in-domain proxy — the same deterministic
    split convention bloom_dedup_incremental uses) vs the raw rest,
    per-raw-doc log importance weight under add-1 smoothing, then
    deterministic Gumbel top-k selection. One fit scan (conditional-
    count groupBy to a 256-row broadcast lambda-table), one score scan,
    TakeOrdered top-k — no global sort, no n^2, O(B) model state."""
    from .operators.llm.dsir import dsir_select
    s = _spark(spark)
    # single-file small parquet arrives as ONE scan partition — spread
    # the (doc_id, text) projection so the gram kernel parallelizes
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    return dsir_select(d, (F.col("doc_id") % 10) == 0, k=100)


@query("ccnet_ppl_buckets", """
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
cnt AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
lp AS (SELECT w, CAST(round(log2(c / (1.0 * n_total)), 9)
                      AS DECIMAL(28,9)) AS lp
       FROM cnt, tot),
j AS (SELECT doc_id, lp FROM words JOIN lp USING (w)),
agg AS (SELECT doc_id,
               round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp2
        FROM j GROUP BY doc_id),
sl AS (SELECT a.doc_id, d.lang, round(pow(2.0, -a.avg_logp2), 4) AS ppl
       FROM agg a JOIN documents d USING (doc_id)),
thr AS (SELECT lang, round(quantile_cont(ppl, 0.33), 6) AS t_head,
                     round(quantile_cont(ppl, 0.67), 6) AS t_mid
        FROM sl GROUP BY lang)
SELECT doc_id, lang, ppl,
       CASE WHEN ppl <= t_head THEN 'head'
            WHEN ppl <= t_mid THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM sl JOIN thr USING (lang)
""")
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split (operators.llm.lm
    ppl_buckets): per-language perplexity tertiles under the corpus
    unigram LM assign each doc its quality bucket. Thresholds are a
    per-language AGGREGATE broadcast back onto the docs — never a
    global-sort ntile window; at real scale the exact percentile swaps
    for approx_percentile (t-digest, partial-aggregable) behind the
    same plan shape."""
    from .operators.llm.lm import unigram_fit, doc_perplexity, ppl_buckets
    s = _spark(spark)
    d = read_table(s, sf_dir, "documents")
    dt = _spread(d.select("doc_id", "text"), s)
    scored = (doc_perplexity(dt, unigram_fit(dt))
              .join(d.select("doc_id", "lang"), "doc_id"))
    return ppl_buckets(scored, group_col="lang")


@query("exact_substr_spans", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
w AS (SELECT doc_id, i AS pos, md5(array_to_string(tk[i+1:i+8], ' ')) AS h
      FROM t, UNNEST(range(0, len(tk) - 8 + 1)) AS r(i)
      WHERE len(tk) >= 8),
d AS (SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM w),
dup AS (SELECT doc_id, pos FROM d WHERE rn > 1),
isl AS (SELECT doc_id, pos,
               CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         IS NULL THEN 1
                    WHEN pos > LAG(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) + 8 THEN 1
                    ELSE 0 END AS brk
        FROM dup),
g AS (SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
      FROM isl)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens
FROM g GROUP BY doc_id, gid
""")
def exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022;
    operators.llm.exactsubstr): stride-1 8-token windows keyed by md5,
    corpus-global first occurrence kept, later occurrences merged into
    maximal per-doc spans via gaps-and-islands. Complements the
    tile-aligned segment_dedup_docs: this catches repeats at ANY
    offset. Two O(corpus) shuffles (window-hash rank, doc-id islands);
    the wire carries 32-hex hashes, never window text."""
    from .operators.llm.exactsubstr import duplicated_spans
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    return duplicated_spans(d, window=8)


@query("khop_dup_neighbors", """
WITH RECURSIVE sig AS ({sig}),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
edges AS (
  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
  WHERE a.doc_id <> b.doc_id),
walk(n, m, depth) AS (
  SELECT s, d, 1 FROM edges
  UNION ALL
  SELECT w.n, e.d, w.depth + 1
  FROM walk w JOIN edges e ON w.m = e.s
  WHERE w.depth < 3
)
SELECT n AS doc_id, m AS nb, CAST(MIN(depth) AS BIGINT) AS min_hops
FROM walk WHERE n <> m GROUP BY n, m
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS)))
def khop_dup_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded transitive near-dup neighborhood via Spark 4's
    recursive CTE: LSH band edges expanded to ≤3 hops, each (doc,
    neighbor) labeled with its hop distance. Depth-bounded recursion is
    the scale-safe form — it terminates under the symmetric-edge cycles
    a dup graph always has (UNION-distinct recursion isn't available,
    and unbounded UNION ALL would walk cycles forever), and Catalyst
    executes it as k iterated joins on the uniform band-derived keys —
    the same plan the hand-rolled loop in operators/llm/components.py
    builds, now expressible as ONE SQL statement. Unbounded closure
    still goes through connected_components (min-label to fixpoint)."""
    sig = persist_once(_minhash_sig_df(_spark(spark), sf_dir))
    bands = union_epochs([
        sig.select("doc_id", F.lit(b).alias("band"),
                   F.concat_ws("|", *[F.col(f"h{b * 4 + i}")
                                      for i in range(4)]).alias("bv"))
        for b in range(_LSH_BANDS)])
    a, b = bands.alias("a"), bands.alias("b")
    edges = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bv") == F.col("b.bv")))
             .filter(F.col("a.doc_id") != F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("s"),
                     F.col("b.doc_id").alias("d"))
             .distinct())
    # the recursion references the edge relation once per level — cache
    # the (dup-pairs-sized, corpus-shrunk) edge table so levels read the
    # cached rows instead of statically re-running the band self-join
    edges = persist_once(edges)
    edges.createOrReplaceTempView("__khop_edges")
    return spark.sql("""
      WITH RECURSIVE walk(n, m, depth) AS (
        SELECT s, d, 1 FROM __khop_edges
        UNION ALL
        SELECT w.n, e.d, w.depth + 1
        FROM walk w JOIN __khop_edges e ON w.m = e.s
        WHERE w.depth < 3
      )
      SELECT n AS doc_id, m AS nb, CAST(MIN(depth) AS BIGINT) AS min_hops
      FROM walk WHERE n <> m GROUP BY n, m
    """)


@query("event_funnel_stages", """
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS tms FROM events),
a AS (SELECT user_id,
        list(tms) FILTER (WHERE event_type = 'signup')   AS s,
        list(tms) FILTER (WHERE event_type = 'view')     AS v,
        list(tms) FILTER (WHERE event_type = 'click')    AS c,
        list(tms) FILTER (WHERE event_type = 'purchase') AS p
      FROM e GROUP BY user_id),
s1 AS (SELECT *, list_min(s) AS t1 FROM a),
s2 AS (SELECT *, list_min(list_filter(v, x -> x > t1)) AS t2 FROM s1),
s3 AS (SELECT *, list_min(list_filter(c, x -> x > t2)) AS t3 FROM s2),
s4 AS (SELECT *, list_min(list_filter(p, x -> x > t3)) AS t4 FROM s3)
SELECT user_id,
       CAST(CASE WHEN t4 IS NOT NULL THEN 4
                 WHEN t3 IS NOT NULL THEN 3
                 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS stage,
       t1 AS t1_ms, t4 AS t4_ms
FROM s4
""")
def event_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analytics (signup → view → click → purchase with
    strictly increasing event times): per-user stage reached, plus the
    entry/conversion timestamps. ONE shuffle on user_id: the sequential
    step-min chain runs as pure array expressions over per-user
    per-step timestamp lists (collect_list drops the non-matching
    NULLs; array_min of an empty filter result is NULL, which
    propagates 'stage not reached' through the chain exactly like the
    oracle's list_min/list_filter). State per user is its own event
    times only — at 100 TB per-entity cardinality bounds it, the
    funnel window (clip events to the analysis period before the
    groupBy) keeps that small in practice."""
    s = _spark(spark)
    ev = read_events(s, sf_dir).select(
        "user_id", "event_type", F.unix_millis("ts").alias("tms"))

    def lst(t):
        return F.collect_list(
            F.when(F.col("event_type") == t, F.col("tms")))

    a = ev.groupBy("user_id").agg(
        lst("signup").alias("s"), lst("view").alias("v"),
        lst("click").alias("c"), lst("purchase").alias("p"))
    t1 = F.array_min("s")
    a = a.withColumn("t1", t1)
    a = a.withColumn("t2", F.array_min(
        F.filter("v", lambda x: x > F.col("t1"))))
    a = a.withColumn("t3", F.array_min(
        F.filter("c", lambda x: x > F.col("t2"))))
    a = a.withColumn("t4", F.array_min(
        F.filter("p", lambda x: x > F.col("t3"))))
    stage = (F.when(F.col("t4").isNotNull(), 4)
              .when(F.col("t3").isNotNull(), 3)
              .when(F.col("t2").isNotNull(), 2)
              .when(F.col("t1").isNotNull(), 1)
              .otherwise(0).cast("int"))
    return a.select("user_id", stage.alias("stage"),
                    F.col("t1").alias("t1_ms"), F.col("t4").alias("t4_ms"))


@query("corpus_audit_by_source", """
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
           / len(string_split(text, ' ')) AS mwl,
         len(list_filter(string_split(text, ' '),
             w -> w IN {stop})) AS n_stop,
         CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
              AS DOUBLE) / length(text) AS vr,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents),
v AS (SELECT doc_id,
             CASE WHEN NOT (vr >= 0.30) THEN 'lang'
                  WHEN NOT (n_words BETWEEN 50 AND 100000
                            AND mwl BETWEEN 3 AND 10
                            AND n_stop >= 2) THEN 'gopher'
                  WHEN rn > 1 THEN 'exact_dup'
                  ELSE 'kept' END AS drop_reason
      FROM m),
words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
cnt AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
lp AS (SELECT w, CAST(round(log2(c / (1.0 * n_total)), 9)
                      AS DECIMAL(28,9)) AS lp
       FROM cnt, tot),
j AS (SELECT doc_id, lp FROM words JOIN lp USING (w)),
agg AS (SELECT doc_id,
               round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp2
        FROM j GROUP BY doc_id),
sc AS (SELECT doc_id, round(pow(2.0, -avg_logp2), 4) AS ppl FROM agg)
SELECT d.source, d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE drop_reason = 'kept') AS BIGINT)
           AS n_kept,
       CAST(COUNT(*) FILTER (WHERE drop_reason = 'lang') AS BIGINT)
           AS n_lang_drop,
       CAST(COUNT(*) FILTER (WHERE drop_reason = 'gopher') AS BIGINT)
           AS n_gopher_drop,
       CAST(COUNT(*) FILTER (WHERE drop_reason = 'exact_dup') AS BIGINT)
           AS n_dup_drop,
       round(CAST(SUM(CAST(ppl AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_ppl
FROM documents d JOIN v USING (doc_id) JOIN sc USING (doc_id)
GROUP BY d.source, d.lang
""".format(stop=_STOP_SQL))
def corpus_audit_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, language) pipeline audit: document counts, first-
    failing-stage drop attribution from the FineWeb-style cascade, and
    mean LM perplexity — the report a curation run publishes per shard.
    Pure composition: the verdict column IS quality_filter_chain's, the
    ppl column IS unigram_perplexity's (both independently oracled);
    joins are doc_id-keyed, the final rollup groups by the tiny
    (source, lang) key. Decimal-accumulated ppl mean keeps the rollup
    hash-stable."""
    from .operators.llm.lm import unigram_fit, doc_perplexity
    s = _spark(spark)
    d = read_table(s, sf_dir, "documents")
    verdict = quality_filter_chain(s, sf_dir).select("doc_id", "drop_reason")
    # same spread projection plan as unigram_perplexity/ccnet → the
    # persist_once vocab cache is shared across all three queries
    dt = _spread(d.select("doc_id", "text"), s)
    ppl = doc_perplexity(dt, unigram_fit(dt)).select("doc_id", "ppl")
    base = (d.select("doc_id", "source", "lang")
             .join(verdict, "doc_id").join(ppl, "doc_id"))

    def cnt_if(reason):
        return F.sum(F.when(F.col("drop_reason") == reason, 1).otherwise(0)) \
                .cast("long")

    return (base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt_if("kept").alias("n_kept"),
        cnt_if("lang").alias("n_lang_drop"),
        cnt_if("gopher").alias("n_gopher_drop"),
        cnt_if("exact_dup").alias("n_dup_drop"),
        F.round(F.sum(F.col("ppl").cast(DEC)).cast("double")
                / F.count(F.lit(1)), 6).alias("mean_ppl")))


# ---------------------------------------------------------------------------
# round 5 (session 3): n-gram decontamination, quality-keep canonicals,
# bigram LM perplexity — the remaining curation-pipeline staples

@query("ngram_decontaminate", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                    % 100 AS bucket
           FROM documents),
g AS (SELECT doc_id, bucket, md5(array_to_string(w[i:i+7], ' ')) AS gh
      FROM t, unnest(range(1, len(w) - 6)) u(i)),
ev AS (SELECT DISTINCT gh FROM g WHERE bucket >= 90)
SELECT doc_id, CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_bad_grams
FROM g WHERE bucket < 80 AND gh IN (SELECT gh FROM ev)
GROUP BY doc_id
""")
def ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level n-gram decontamination (the GPT-3/PaLM/Llama method,
    n=8 here): flag every train-split document sharing ANY token n-gram
    with the held-out split, with the contaminated-gram count as the
    redaction signal. Differs from ``decontaminate_train_docs`` (whole-
    doc fingerprint) by catching partial containment — an eval question
    quoted inside a larger train doc.

    Scale shape: grams travel as md5 hashes (16 B), never the text; the
    split filter runs BEFORE the gram explode, so each branch explodes
    only its own slice (NOT one cached all-docs explode — a corpus-sized
    cache is exactly what you can't hold at 100 TB; two pruned scans
    beat it). Eval grams are a broadcast build side (the eval set is
    always tiny next to the train corpus), so the train side never
    shuffles — the only exchange is the per-doc count agg."""
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 100)
    # split hoisted to a column: an inline split inside the interpreted
    # transform lambda re-splits per element — O(tokens²)/doc
    gram_col = F.explode(F.expr(
        "CASE WHEN size(_w) >= 8 THEN "
        "transform(sequence(1, size(_w) - 7), "
        "i -> md5(array_join(slice(_w, i, 8), ' '))) "
        "ELSE array() END")).alias("gh")
    db = d.select("doc_id", bucket.alias("bucket"),
                  F.split("text", " ").alias("_w"))
    ev = (db.filter(F.col("bucket") >= 90).select(gram_col).distinct())
    return (db.filter(F.col("bucket") < 80).select("doc_id", gram_col)
              .join(F.broadcast(ev), "gh")
              .groupBy("doc_id")
              .agg(F.countDistinct("gh").alias("n_bad_grams")))


_CANON_ORACLE = ORACLES["dup_components"].rstrip().rsplit(
    "SELECT n AS doc_id", 1)[0].rstrip().rstrip(")") + """),
comp AS (SELECT n AS doc_id, MIN(m) AS component FROM lbl GROUP BY n),
tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
               AS n_tokens
        FROM documents)
SELECT component, doc_id AS keep_doc_id, n_tokens AS keep_n_tokens,
       CAST(csize AS BIGINT) AS cluster_size
FROM (SELECT component, doc_id, n_tokens,
             COUNT(*) OVER (PARTITION BY component) AS csize,
             ROW_NUMBER() OVER (PARTITION BY component
                 ORDER BY n_tokens DESC, doc_id) AS rn
      FROM comp JOIN tok USING (doc_id))
WHERE rn = 1
"""


@query("dup_canonical_best", _CANON_ORACLE)
def dup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: per near-dup component, KEEP
    the best document instead of ``dedup_pipeline_summary``'s min-id
    convention — here "best" = longest (token count), the C4/RefinedWeb
    keep-heuristic, with min doc_id as the deterministic tie-break.
    Composes the independently-oracled dup_components labels with a
    per-doc token count; ONE shuffle on the component key serves both
    the size count and the argmax window (same partitioning). The
    oracle extends dup_components' recursive-CTE closure with the same
    pick, so the full pipeline (LSH → components → keep-list) is
    hash-checked end-to-end."""
    comp = QUERIES["dup_components"](spark, sf_dir)
    docs = (read_table(_spark(spark), sf_dir, "documents")
            .select("doc_id", F.size(F.split("text", " ")).cast("long")
                     .alias("n_tokens")))
    j = comp.join(docs, "doc_id")
    w = Window.partitionBy("component")
    picked = (j.withColumn("csize", F.count(F.lit(1)).over(w))
               .withColumn("rn", F.row_number().over(
                   w.orderBy(F.col("n_tokens").desc(), F.col("doc_id")))))
    return (picked.filter(F.col("rn") == 1)
                  .select("component", F.col("doc_id").alias("keep_doc_id"),
                          F.col("n_tokens").alias("keep_n_tokens"),
                          F.col("csize").cast("long").alias("cluster_size")))


@query("topk_sample_per_group", """
SELECT source, doc_id
FROM (SELECT source, doc_id,
             ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
WHERE rn <= 10
""")
def topk_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic sample per group (k=10 docs per source) —
    eval-set and inspection-sample construction. Rank = md5 of the
    stable id, so the draw is uniform-ish, reproducible across engines,
    partitionings and reruns (never rand()); one group-keyed shuffle
    with WindowGroupLimit pushing the top-k into partial per-partition
    heaps before the exchange."""
    d = read_table(_spark(spark), sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id"))
    return (d.select("source", "doc_id",
                     F.row_number().over(w).alias("rn"))
             .filter(F.col("rn") <= 10).drop("rn"))


@query("text_normalize", """
SELECT doc_id,
       regexp_replace(trim(lower(text)), ' +', ' ') AS norm,
       CAST(length(text) AS BIGINT) AS len_raw,
       CAST(length(regexp_replace(trim(lower(text)), ' +', ' ')) AS BIGINT)
           AS len_norm
FROM documents
""")
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style text normalization (lowercase, trim, whitespace
    squeeze) with before/after lengths — the map-only cleanup stage
    every corpus pipeline runs first. Shuffle-free JVM regexp; the
    normalized column is what the dedup/fingerprint family consumes
    upstream of hashing."""
    d = read_table(_spark(spark), sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), " +", " ")
    return d.select("doc_id", norm.alias("norm"),
                    F.length("text").cast("long").alias("len_raw"),
                    F.length(norm).cast("long").alias("len_norm"))


_LEAKAGE_ORACLE = ORACLES["dup_components"].rstrip().rsplit(
    "SELECT n AS doc_id", 1)[0].rstrip().rstrip(")") + """),
comp AS (SELECT n AS doc_id, MIN(m) AS component FROM lbl GROUP BY n)
SELECT doc_id, component,
       CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 7))::BIGINT
                 % 100 < 80 THEN 'train'
            WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 7))::BIGINT
                 % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM comp
"""


@query("leakage_safe_split", _LEAKAGE_ORACLE)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split key is the
    near-dup COMPONENT, not the document — near-duplicates can never
    straddle train and eval (the contamination path a per-doc hash
    split leaves open; ``train_split_assign`` is that per-doc form).
    Deterministic md5 bucketing on the component label over the
    checkpointed labels — a map-side projection; the oracle extends
    the recursive-CTE closure with the identical bucketing."""
    comp = QUERIES["dup_components"](spark, sf_dir)
    bucket = (F.conv(F.substring(F.md5(F.col("component").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 100)
    split = (F.when(bucket < 80, "train")
              .when(bucket < 90, "val").otherwise("test"))
    return comp.select("doc_id", "component", split.alias("split"))


@query("bigram_perplexity", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (SELECT doc_id, w[i] AS p, w[i+1] AS nx
       FROM t, unnest(range(1, len(w))) u(i)),
cb AS (SELECT p, nx, COUNT(*) AS cb FROM bg GROUP BY p, nx),
cc AS (SELECT p, CAST(SUM(cb) AS BIGINT) AS cc FROM cb GROUP BY p),
uni AS (SELECT w AS nx, COUNT(*) AS cu
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM uni),
lp AS (SELECT cb.p, cb.nx,
              CAST(round(log2(0.7 * (cb / (1.0 * cc))
                              + (1.0 - 0.7) * (cu / (1.0 * n_total))), 9)
                   AS DECIMAL(28,9)) AS lp
       FROM cb JOIN cc USING (p) JOIN uni USING (nx), tot),
j AS (SELECT doc_id, lp FROM bg JOIN lp USING (p, nx)),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp2
        FROM j GROUP BY doc_id)
SELECT doc_id, n_bigrams, avg_logp2,
       round(pow(2.0, -avg_logp2), 4) AS ppl
FROM agg
""")
def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 LM quality signal (operators.llm.lm.bigram_fit):
    Jelinek-Mercer interpolated bigram perplexity, λ=0.7 — the next
    rung above ``unigram_perplexity`` on the CCNet ladder. The model is
    a vocab²-bounded broadcast; scoring is one Generate + broadcast
    join + per-doc agg (no extra corpus scan: context totals roll up
    from the bigram counts). Decimal-exact per-token log accumulation
    keeps the hash contract with DuckDB."""
    from .operators.llm.lm import bigram_fit, doc_bigram_perplexity
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    return doc_bigram_perplexity(d, bigram_fit(d))


@query("knn_join_ivf", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
cent AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < 4),
d AS (SELECT vec_id, e, cent_id,
             list_sum(list_transform(range(1, 65),
                      i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
      FROM v, cent),
assign AS (SELECT vec_id, e, cent_id FROM d
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) = 1),
n AS (SELECT vec_id, e, cent_id,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM assign),
s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
             round(list_sum(list_transform(range(1, 65),
                            i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6)
                 AS sim
      FROM n a JOIN n b ON a.cent_id = b.cent_id
                       AND a.vec_id <> b.vec_id)
SELECT qid, nid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) <= 3
""")
def knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN (top-3 neighbors for EVERY vector, not a probe set) —
    the embedding workhorse behind dedup review, retrieval-augmented
    mining and cluster QA. IVF cells bound the quadratic (Σ|cell|²,
    never n²) and are the parallelism unit; within a cell the pairwise
    sims come from a grouped Arrow kernel that accumulates dot products
    and norms SEQUENTIALLY OVER DIMENSIONS but vectorized across the
    cell — IEEE op order identical to the oracle's fold, so every sim
    is bit-exact (the SemDeDup kernel discipline; an interpreted HOF
    dot over Σ|cell|² pairs was 94 % of SemDeDup's r4 wall clock).
    At corpus scale the cell count scales with n (adaptive k-means
    quantizer) so cells stay bounded; per-row top-3 is an in-kernel
    argsort, no global window."""
    import pandas as pd

    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = (emb.filter(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("cent_id"),
                       F.col("e").alias("ce")))
    sqdist = F.aggregate(F.zip_with("e", "ce", lambda x, y: (x - y) * (x - y)),
                         F.lit(0.0), lambda a, x: a + x)
    d = emb.crossJoin(F.broadcast(cent)).withColumn("dist", sqdist)
    w_assign = Window.partitionBy("vec_id").orderBy("dist", "cent_id")
    assign = (d.withColumn("rn", F.row_number().over(w_assign))
                .filter(F.col("rn") == 1)
                .select("vec_id", "e", "cent_id"))

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"qid": [], "nid": [], "sim": []})
        E = np.array(pdf["e"].tolist(), dtype=np.float64)       # m×64
        ids = pdf["vec_id"].to_numpy()
        # sequential over dims, vectorized over the cell — the exact
        # IEEE order of the oracle's list_sum fold
        S = np.zeros((m, m))
        n2 = np.zeros(m)
        for k in range(E.shape[1]):
            col = E[:, k]
            S += col[:, None] * col[None, :]
            n2 += col * col
        nrm = np.sqrt(n2)
        sim = S / (nrm[:, None] * nrm[None, :])
        np.fill_diagonal(sim, -np.inf)
        out_q, out_n, out_s = [], [], []
        for i in range(m):
            # RAW-sim candidate set with a 2e-6 safety margin past the
            # 3rd best: the final (rounded-sim, nid) rank happens
            # Spark-side, because the output contract ranks by
            # round(sim, 6) and kernel-side rounding could disagree
            # with BigDecimal HALF_UP exactly at a grid boundary
            order = np.argsort(-sim[i], kind="stable")
            third = sim[i, order[min(2, m - 2)]]
            keep = [j for j in order
                    if sim[i, j] >= third - 2e-6][:50]
            out_q += [ids[i]] * len(keep)
            out_n += [ids[j] for j in keep]
            out_s += [sim[i, j] for j in keep]
        return pd.DataFrame({"qid": out_q, "nid": out_n, "sim": out_s})

    cand = (assign.groupBy("cent_id")
            .applyInPandas(topk, schema="qid long, nid long, sim double"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (cand.select("qid", "nid", F.round("sim", 6).alias("sim"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 3).drop("rn"))


@query("knn_join_kmeans", """
WITH {kmeans},
n AS (SELECT vec_id, e, cid,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM a3),
s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
             round(list_sum(list_transform(range(1, 65),
                            i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6)
                 AS sim
      FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id <> b.vec_id)
SELECT qid, nid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) <= 3
""".format(kmeans=_KMEANS_SQL))
def knn_join_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-NN join OPERATOR (`operators/llm/annindex.knn_join`) under
    its oracle pin: Lloyd-trained cells (k_cells=4, 2 iterations — the
    `_KMEANS_SQL` replay) instead of `knn_join_ivf`'s seed cells. The
    operator's SCALE defaults are adaptive (k_cells=None sizes cells to
    target_cell_size, total kernel work ≈ n × target — the
    semantic_dup_pairs discipline); the pin exists only so DuckDB can
    replay the clustering bit-exactly. Kernel + Spark-side
    (round(sim,6), nid) final ranking as in `knn_join_ivf`."""
    from .operators.llm.annindex import knn_join
    emb = read_table(_spark(spark), sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    # max_cell_size=None: the oracle replays the exact cell membership;
    # direct users get the "auto" hot-cell hash-split guard
    return knn_join(emb, k_neighbors=3, k_cells=4, iters=2,
                    max_cell_size=None)


@query("quality_classifier_score", f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
f AS (SELECT doc_id,
             CAST(len(w) AS DOUBLE) AS n_tok,
             CAST((SELECT COUNT(*) FROM unnest(w) u(x)
                   WHERE x IN {{stop}}) AS DOUBLE) / len(w) AS stop_ratio,
             (CAST(length(text) AS DOUBLE) - (len(w) - 1)) / len(w)
                 AS avg_tok_len
      FROM t)
SELECT doc_id,
       round(-1.5 + 0.02 * n_tok + 2.0 * stop_ratio - 0.1 * avg_tok_len, 6)
           AS margin,
       (-1.5 + 0.02 * n_tok + 2.0 * stop_ratio - 0.1 * avg_tok_len) > 0.0
           AS keep
FROM f
""".format(stop=_STOP_SQL))
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE at corpus scale — the
    fastText-classifier-shaped scoring stage of curation pipelines,
    with fixed published-style weights over cheap text features
    (token count, stopword ratio, mean token length). Map-only, one
    explode-free pass (features from size/length arithmetic + one
    array filter). The margin stays LINEAR (logistic is monotone, so
    the keep decision is identical) because +/×/÷ are IEEE-exact and
    cross-engine reproducible, while libm exp() is not — a sigmoid
    would hash-mismatch in the last ulp."""
    d = read_table(_spark(spark), sf_dir, "documents")
    w = F.split("text", " ")
    n_tok = F.size("w").cast("double")
    stops = F.size(F.filter("w", lambda x: x.isin(*_STOPWORDS))) \
             .cast("double")
    t = d.select("doc_id", "text", w.alias("w"))
    f = t.select(
        "doc_id",
        n_tok.alias("n_tok"),
        (stops / F.size("w")).alias("stop_ratio"),
        ((F.length("text").cast("double") - (F.size("w") - 1))
         / F.size("w")).alias("avg_tok_len"))
    margin = (-1.5 + 0.02 * F.col("n_tok") + 2.0 * F.col("stop_ratio")
              - 0.1 * F.col("avg_tok_len"))
    return f.select("doc_id", F.round(margin, 6).alias("margin"),
                    (margin > 0.0).alias("keep"))


@query("train_shuffle_order", """
SELECT doc_id,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
            % 8 AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 8
            ORDER BY md5('s42:' || CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS shard_pos
FROM documents
""")
def train_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle, the shard-local form real
    data loaders use: docs hash into shards, each shard gets an
    md5-seeded pseudo-random order — reshuffling = changing the seed
    string. Shard-local windows keep the sort per-shard (never a global
    total order, which would single-partition at 100 TB); the seeded
    hash makes the epoch order reproducible across engines, reruns and
    partitionings — rand() never appears."""
    d = read_table(_spark(spark), sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string").cast("binary"))
    shard = (F.conv(F.substring(hx, 1, 7), 16, 10).cast("long") % 8) \
        .cast("int")
    seed_key = F.md5(F.concat(F.lit("s42:"),
                              F.col("doc_id").cast("string")).cast("binary"))
    w = Window.partitionBy("shard").orderBy(F.col("sk"), F.col("doc_id"))
    return (d.select("doc_id", shard.alias("shard"), seed_key.alias("sk"))
             .withColumn("shard_pos", F.row_number().over(w).cast("long"))
             .drop("sk"))


@query("gdpr_forget_keys", f"""
WITH cur AS (
  SELECT user_id, event_type, "value" FROM (
    SELECT *, {_OP_SQL} AS op FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
  ) WHERE op <> 'd')
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM cur WHERE user_id % 97 <> 0
GROUP BY event_type
""")
def gdpr_forget_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation: purge a forget-key set from
    the compacted state AND retract it from the maintained aggregate
    view in one pass — the erasure a CDC pipeline owes its downstream
    when deletes arrive out-of-band (compliance, not change events).
    The purge is a broadcast anti-join on the key list; the view update
    is the aggmv retraction identity with NO new-contribution term
    (forget = delete-only delta), so nothing re-aggregates the
    surviving 99.9 %. Oracle: the view over the purged state recomputed
    from scratch — erasure ≡ never-was."""
    from .operators.aggmv import (merge_contributions,
                                  signed_contribution, view_as_contribution)
    from .operators.dedup import dedup_latest

    ev = read_cdc_events(_spark(spark), sf_dir)
    state = persist_once(
        dedup_latest(ev, ["user_id"]).filter(~F.col(SC.deleted))
        .select("user_id", "event_type", "value"))
    forget = state.select("user_id").filter(F.col("user_id") % 97 == 0)
    # stored view of the pre-purge state (previous run's output)
    stored = merge_contributions(
        [signed_contribution(state, ["event_type"], "value", +1)],
        ["event_type"])
    retract = signed_contribution(
        state.join(F.broadcast(forget), ["user_id"], "semi"),
        ["event_type"], "value", -1)
    return merge_contributions(
        [view_as_contribution(stored), retract], ["event_type"])


@query("cohort_retention", """
WITH f AS (SELECT user_id, min(ts) AS fts FROM events GROUP BY user_id),
coh AS (SELECT user_id, date_trunc('day', fts) AS cd FROM f),
act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS ad FROM events)
SELECT strftime(cd, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', cd, ad) AS INTEGER) AS day_offset,
       COUNT(DISTINCT user_id) AS n_active
FROM act JOIN coh USING (user_id)
GROUP BY cd, ad
""")
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — THE event-analytics staple: users bucketed by
    first-seen day, activity counted per (cohort, day offset) — the
    retention-curve matrix. Two user-keyed shuffles (first-seen agg,
    activity distinct) feed one user-keyed join, then the rollup groups
    on the tiny (cohort, offset) key. date_trunc agrees across engines
    under the UTC session; offsets are exact day diffs."""
    s = _spark(spark)
    ev = read_events(s, sf_dir).select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("fts"))
    coh = first.select("user_id", F.date_trunc("day", "fts").alias("cd"))
    act = ev.select("user_id", F.date_trunc("day", "ts").alias("ad")) \
            .distinct()
    return (act.join(coh, "user_id")
            .groupBy("cd", "ad")
            .agg(F.countDistinct("user_id").alias("n_active"))
            .select(F.date_format("cd", "yyyy-MM-dd").alias("cohort_day"),
                    F.datediff("ad", "cd").cast("int").alias("day_offset"),
                    "n_active"))


@query("events_anomaly_zscore", """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS c
  FROM events GROUP BY event_type, date_trunc('day', ts)
), mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
  FROM daily GROUP BY event_type
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, CAST(c AS BIGINT) AS c,
       round((c - CAST(s1 AS DOUBLE) / n)
             / sqrt(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)),
             6) AS z
FROM daily JOIN mom USING (event_type)
WHERE abs((c - CAST(s1 AS DOUBLE) / n)
          / sqrt(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) > 1.5
""")
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: daily event counts per type flagged
    when |z| > 1.5 against the type's own distribution. The moments are
    EXACT integer sums (counts are integral, so n/Σc/Σc² are
    order-independent BIGINTs) and mean/σ derive from them in double
    with an identical expression tree in both engines — never a float
    `stddev` aggregate whose accumulation order varies by partition.
    One (type, day) shuffle + a types-sized broadcast join back."""
    s = _spark(spark)
    ev = read_events(s, sf_dir)
    daily = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
               .agg(F.count(F.lit(1)).alias("c")))
    mom = (daily.groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("c").cast("long").alias("s1"),
                F.sum(F.col("c") * F.col("c")).cast("long").alias("s2")))
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") / F.col("n")) - mean * mean
    z = (F.col("c") - mean) / F.sqrt(var)
    return (daily.join(F.broadcast(mom), "event_type")
            .filter(F.abs(z) > 1.5)
            .select("event_type",
                    F.date_format("d", "yyyy-MM-dd").alias("day"),
                    F.col("c").cast("long").alias("c"),
                    F.round(z, 6).alias("z")))


@query("cdc_time_travel", f"""
SELECT user_id, event_type, "value", event_id AS kbc__pos
FROM (
  SELECT *, {_OP_SQL} AS op FROM events
  WHERE ts < TIMESTAMP '2024-01-20'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
      ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
) WHERE op <> 'd'
""")
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State AS OF a timestamp (time travel over the event log): replay
    the W1 compaction against only events at/before the cut — the audit
    query "what did this table look like on the 20th". Same plan as
    cdc_current_state plus the event-time predicate; at scale the log is
    date-partitioned, so the cutoff prunes partitions before the single
    PK shuffle (here the predicate is a map-side filter on the derived
    ms column)."""
    cutoff_ms = 1705708800000  # 2024-01-20T00:00Z
    ev = read_cdc_events(_spark(spark), sf_dir) \
        .filter(F.col(SC.event_timestamp) < cutoff_ms)
    out = dedup_latest(ev, ["user_id"]).filter(~F.col(SC.deleted))
    return out.select("user_id", "event_type", "value",
                      F.col(SC.pos).alias("kbc__pos"))


@query("cdc_incremental_mv", f"""
WITH cur AS (
  SELECT user_id, event_type, "value" FROM (
    SELECT *, {_OP_SQL} AS op FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
  ) WHERE op <> 'd')
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM cur GROUP BY event_type
""")
def cdc_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/aggmv.py): the
    per-event_type (count, sum) view over the CDC current-state table,
    maintained from a delta batch instead of recomputed. The run splits
    the log at 80 % of the max position: the prior 80 % plays the stored
    state + stored view of the previous sync; the last 20 % is the new
    batch. Touched keys = distinct PKs in the batch (broadcast);
    their new state comes from merging the old COMPACTED rows with the
    delta events through the same W1 window (never a re-scan of full
    history), and the view updates as old_view ⊖ old-touched ⊕
    new-touched — exact decimal retraction, one group-key shuffle.
    The oracle is the FULL recompute: incremental ≡ batch is the
    maintained-view contract."""
    from .operators.aggmv import maintain_view
    from .operators.dedup import dedup_latest

    ev = read_cdc_events(_spark(spark), sf_dir)
    cut = int(ev.agg(F.max(SC.pos)).collect()[0][0] * 0.8)
    prior, delta = ev.filter(F.col(SC.pos) <= cut), ev.filter(F.col(SC.pos) > cut)
    # previous sync's outputs — STORED tables in production (the view
    # read costs nothing, the state read is key-pruned); derived here,
    # so persist_once keeps the derivation from executing three times
    # (old_view + old_touched + merge source)
    state0 = persist_once(
        dedup_latest(prior, ["user_id"]).filter(~F.col(SC.deleted))
        .select("user_id", "event_type", "value", SC.event_timestamp, SC.pos,
                SC.deleted))
    touched = delta.select("user_id").distinct()
    # new state of touched keys: old compacted row ∪ delta events → W1
    merged_src = union_epochs([
        state0.join(F.broadcast(touched), "user_id", "semi"),
        delta.select("user_id", "event_type", "value", SC.event_timestamp,
                     SC.pos, SC.deleted)])
    state1_touched = (dedup_latest(merged_src, ["user_id"],
                                   order_by=[F.col(SC.event_timestamp).desc(),
                                             F.col(SC.pos).desc()])
                      .filter(~F.col(SC.deleted)))
    return maintain_view(
        state0.select("user_id", "event_type", "value"),
        state1_touched.select("user_id", "event_type", "value"),
        touched, ["user_id"], ["event_type"], "value")


_KC_DIST = ("list_sum(list_transform(range(1, 65), "
            "i -> ({a}.e[i] - {b}.e[i]) * ({a}.e[i] - {b}.e[i])))")


@query("kcenter_diverse_select", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
s0 AS (SELECT vec_id, e FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) = 1),
d1 AS (SELECT v.vec_id, v.e, {d_vs} AS dmin FROM v, s0 s),
s1 AS (SELECT vec_id, e, dmin FROM d1
       QUALIFY ROW_NUMBER() OVER (ORDER BY dmin DESC, vec_id) = 1),
d2 AS (SELECT d.vec_id, d.e, LEAST(d.dmin, {d_ds}) AS dmin FROM d1 d, s1 s),
s2 AS (SELECT vec_id, e, dmin FROM d2
       QUALIFY ROW_NUMBER() OVER (ORDER BY dmin DESC, vec_id) = 1),
d3 AS (SELECT d.vec_id, d.e, LEAST(d.dmin, {d_ds}) AS dmin FROM d2 d, s2 s),
s3 AS (SELECT vec_id, e, dmin FROM d3
       QUALIFY ROW_NUMBER() OVER (ORDER BY dmin DESC, vec_id) = 1),
d4 AS (SELECT d.vec_id, d.e, LEAST(d.dmin, {d_ds}) AS dmin FROM d3 d, s3 s),
s4 AS (SELECT vec_id, e, dmin FROM d4
       QUALIFY ROW_NUMBER() OVER (ORDER BY dmin DESC, vec_id) = 1)
SELECT CAST(0 AS INTEGER) AS sel_rank, vec_id, CAST(0.0 AS DOUBLE) AS dmin
FROM s0
UNION ALL SELECT 1, vec_id, dmin FROM s1
UNION ALL SELECT 2, vec_id, dmin FROM s2
UNION ALL SELECT 3, vec_id, dmin FROM s3
UNION ALL SELECT 4, vec_id, dmin FROM s4
""".format(d_vs=_KC_DIST.format(a="v", b="s"),
           d_ds=_KC_DIST.format(a="d", b="s")))
def kcenter_diverse_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity selection (operators.llm.kcenter, k=5):
    the maximally-spread seed subset of the embedding corpus — coreset /
    eval-seed construction. Every round is a shuffle-free literal-fold
    projection + TakeOrderedAndProject(1) (per-partition top-1, driver
    merge — never a global sort); chosen centers are control-plane
    state. The oracle unrolls the 4 greedy rounds as CTEs with a
    running LEAST — exact min over identical doubles, so the replay is
    bit-exact (the _KMEANS_SQL move)."""
    from .operators.llm.kcenter import kcenter_select
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    centers = kcenter_select(emb, k=5)
    return s.createDataFrame(
        [(i, c, d) for i, (c, _, d) in enumerate(centers)],
        "sel_rank int, vec_id long, dmin double")


# ---------------------------------------------------------------------------
# round-5 session-5 additions: incremental near-dup indexing, time-series
# resample, multi-dim layout, PQ-ANN


@query("lsh_incremental_pairs", """
WITH sig AS ({sig}),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
cand AS (
  SELECT LEAST(n.doc_id, a.doc_id) AS doc_a,
         GREATEST(n.doc_id, a.doc_id) AS doc_b, n.band
  FROM bands n JOIN bands a
    ON n.band = a.band AND n.bv = a.bv AND n.doc_id <> a.doc_id
   AND (a.doc_id % 5 <> 0 OR n.doc_id < a.doc_id)
  WHERE n.doc_id % 5 = 0)
SELECT doc_a, doc_b, COUNT(*) AS n_bands
FROM cand GROUP BY doc_a, doc_b
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS)))
def lsh_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup indexing — the production shape for a
    GROWING corpus: only the NEW ingest batch (here doc_id % 5 = 0, the
    daily increment) probes the LSH band index; indexed×indexed pairs
    NEVER enter the join, so per-ingest cost is O(|batch| × collision
    fan-out) instead of re-running the full self-join
    (`minhash_lsh_pairs`) over the whole corpus.  At 100 TB the band
    index is a bucketed table keyed (band, bv) and each ingest shuffles
    only its own band rows against it; here old signatures are rebuilt
    inline because the driver contract is a single stateless query (the
    stored-index flavor is exercised by `bloom_dedup_incremental`).
    new×new pairs collide from both sides, so the band multiplicity is
    COUNT(DISTINCT band), not COUNT(*) — the r6 attempt to trade the
    distinct-aggregate for an n < a orientation guard in the join
    condition was measured ~20 % SLOWER at sf0.1 (the OR-disjunct
    residual costs more per matched row than the distinct pass over
    ≤4-band groups; scripts/bench_lsh_ab.py, best-of-4: 1.27 s
    unguarded+distinct vs 1.54 s guarded+count), so this is the r5
    form restored. The SQL oracle keeps the guard+COUNT(*) shape —
    equivalent multiplicities, engine-appropriate plans each."""
    sig = persist_once(_minhash_sig_df(_spark(spark), sf_dir))
    bands = union_epochs([
        sig.select("doc_id", F.lit(b).alias("band"),
                   F.concat_ws("|", *[F.col(f"h{b * 4 + i}")
                                      for i in range(4)]).alias("bv"))
        for b in range(_LSH_BANDS)])
    new = bands.filter(F.col("doc_id") % 5 == 0)
    n, a = new.alias("n"), bands.alias("a")
    cand = n.join(a, (F.col("n.band") == F.col("a.band"))
                  & (F.col("n.bv") == F.col("a.bv"))
                  & (F.col("n.doc_id") != F.col("a.doc_id")))
    pairs = cand.select(
        F.least("n.doc_id", "a.doc_id").alias("doc_a"),
        F.greatest("n.doc_id", "a.doc_id").alias("doc_b"),
        F.col("n.band").alias("band"))
    return (pairs.groupBy("doc_a", "doc_b")
                 .agg(F.countDistinct("band").alias("n_bands")))


@query("resample_interpolate", """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS obs_day,
         CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS val
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
nx AS (
  SELECT user_id, obs_day, val,
         LEAD(obs_day) OVER (PARTITION BY user_id ORDER BY obs_day) AS nday,
         LEAD(val) OVER (PARTITION BY user_id ORDER BY obs_day) AS nval
  FROM daily),
grid AS (
  SELECT user_id, obs_day, val, nday, nval,
         UNNEST(generate_series(CAST(obs_day AS TIMESTAMP),
             COALESCE(CAST(nday AS TIMESTAMP) - INTERVAL 1 DAY,
                      CAST(obs_day AS TIMESTAMP)),
             INTERVAL 1 DAY)) AS dd
  FROM nx),
g2 AS (SELECT user_id, obs_day, val, nday, nval, CAST(dd AS DATE) AS d
       FROM grid)
SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
       ROUND(CASE WHEN d = obs_day THEN val
             ELSE val + (nval - val) * date_diff('day', obs_day, d)
                  / date_diff('day', obs_day, nday) END, 6) AS val_filled,
       (d = obs_day) AS observed
FROM g2
""")
def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + linear interpolation: per-user daily mean
    resampled onto a dense daily grid, missing days linearly
    interpolated between the neighboring observed days (the standard
    feature-engineering resample before sequence models).  Gaps-and-
    islands formulation — each observed day emits its own forward gap
    via sequence(obs_day, next_day - 1), so there is NO dense-grid join
    and no span aggregate: one shuffle for the daily mean, one window
    over the same user key for LEAD, then a pure explode.  Daily means
    accumulate in decimal (order-independent); the interpolation
    arithmetic is per-row over deterministic inputs."""
    ev = read_events(_spark(spark), sf_dir)
    daily = (ev.groupBy("user_id", F.to_date("ts").alias("obs_day"))
               .agg((F.sum(F.col("value").cast(DEC)).cast("double")
                     / F.count(F.lit(1))).alias("val")))
    w = Window.partitionBy("user_id").orderBy("obs_day")
    nx = (daily.withColumn("nday", F.lead("obs_day").over(w))
               .withColumn("nval", F.lead("val").over(w)))
    grid = nx.withColumn("d", F.explode(F.sequence(
        F.col("obs_day"),
        F.coalesce(F.date_sub("nday", 1), F.col("obs_day")))))
    interp = (F.col("val") + (F.col("nval") - F.col("val"))
              * F.datediff("d", "obs_day") / F.datediff("nday", "obs_day"))
    return grid.select(
        "user_id", F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(F.when(F.col("d") == F.col("obs_day"), F.col("val"))
                 .otherwise(interp), 6).alias("val_filled"),
        (F.col("d") == F.col("obs_day")).alias("observed"))


@query("embedding_pq_ann_recall", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
cb AS (SELECT vec_id AS k, e AS ce FROM v WHERE vec_id < 16),
cand AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id >= 5),
enc0 AS (
  SELECT c.cid, j.j, b.k,
         list_sum(list_transform(range(1, 9),
             d -> (c.ce[j.j * 8 + d] - b.ce[j.j * 8 + d])
                * (c.ce[j.j * 8 + d] - b.ce[j.j * 8 + d]))) AS d2
  FROM cand c, (SELECT unnest(range(0, 8)) AS j) j, cb b),
codes AS (SELECT cid, j, k AS code FROM enc0
          QUALIFY ROW_NUMBER() OVER (PARTITION BY cid, j
              ORDER BY d2, k) = 1),
codesl AS (SELECT cid, list(code ORDER BY j) AS codes
           FROM codes GROUP BY cid),
cba AS (SELECT list(ce ORDER BY k) AS arr FROM cb),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
adc AS (SELECT q.qid, c.cid,
        list_sum(list_transform(range(0, 8), j ->
            list_sum(list_transform(range(1, 9), d ->
                (q.qe[j * 8 + d] - a.arr[c.codes[j + 1] + 1][j * 8 + d])
              * (q.qe[j * 8 + d] - a.arr[c.codes[j + 1] + 1][j * 8 + d])))))
          AS adist
        FROM codesl c, q, cba a),
ex AS (SELECT q.qid, c.cid,
       list_sum(list_transform(range(1, 65),
           i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i]))) AS edist
       FROM q, cand c),
tq AS (SELECT qid, cid FROM adc
       QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
           ORDER BY adist, cid) <= 10),
te AS (SELECT qid, cid FROM ex
       QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
           ORDER BY edist, cid) <= 10)
SELECT t.qid, CAST(COUNT(e.cid) AS DOUBLE) / 10.0 AS recall_at_10
FROM tq t LEFT JOIN te e ON t.qid = e.qid AND t.cid = e.cid
GROUP BY t.qid
""")
def embedding_pq_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization ANN (Jégou et al. 2011) — the memory move
    that fits billion-vector search on a cluster: 64-float vectors
    (256 B) compress to 8 one-byte codes (M=8 subspaces × K=16
    codewords), a 32× cut, and query-candidate distance is the
    asymmetric (ADC) sum of per-subspace lookup distances.  Spark
    shape: codebook AND probe set are control-plane collects (16 + 5
    rows, the kmeans-literal convention), so encode + ADC + exact
    rerank run as ONE Arrow ``mapInPandas`` pass over the candidates —
    a shuffle-free map whose per-dimension accumulation is an explicit
    sequential loop (the operators/llm/simkernel.py discipline:
    vectorized ACROSS rows, sequential WITHIN a vector), i.e. the
    exact IEEE order of the oracle's ``list_sum`` folds, so codes and
    rankings replay bit-exactly.  (The r5 form was an interpreted-HOF
    expression tree — encode alone was 8 sub × 16 codewords × 8-dim
    folds per row through the interpreter plus a multi-second
    analysis/codegen of the literal tree; the kernel does the same
    arithmetic at NumPy throughput and the plan shrinks to scan →
    ArrowEval → one qid exchange.)  Reported per probe as recall@10 vs
    the exact-L2 top-k — the monitored-quality convention of
    embedding_ann_recall."""
    import numpy as np
    import pandas as pd

    s = _spark(spark)
    raw = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    # 16-row codebook + 5-row probe set: control-plane collects off the
    # RAW scan (filter pushes down to parquet — collecting after the
    # spread below would shuffle the whole corpus to fetch 21 rows)
    cb_rows = (raw.filter(F.col("vec_id") < 16).orderBy("vec_id")
                  .select("e").collect())
    q_rows = (raw.filter(F.col("vec_id") < 5).orderBy("vec_id")
                 .select("vec_id", "e").collect())
    CB = np.array([r["e"] for r in cb_rows], dtype=np.float64)  # 16×64
    qs = [(r["vec_id"], np.asarray(r["e"], dtype=np.float64))
          for r in q_rows]
    emb = _spread(raw, s)
    idt = dict(raw.dtypes)["vec_id"]

    def f(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            E = np.array(pdf["e"].tolist(), dtype=np.float64)   # n×64
            cids = pdf["vec_id"].to_numpy()
            # encode: distance to each of the 16 codewords per
            # subspace, accumulated dim-sequentially; ties take the
            # FIRST min (= lowest codeword id, the array_min struct
            # tie-break) and NaN distances are demoted to +inf so they
            # never win (Spark orders NaN greatest; all-NaN rows then
            # tie down to codeword 0 on both paths)
            codes = np.empty((n, 8), dtype=np.int64)
            for j in range(8):
                D = np.empty((n, 16))
                for k in range(16):
                    acc = np.zeros(n)
                    for d in range(8):
                        diff = E[:, j * 8 + d] - CB[k, j * 8 + d]
                        acc += diff * diff
                    D[:, k] = acc
                codes[:, j] = np.where(np.isnan(D), np.inf, D).argmin(axis=1)
            out = {"qid": [], "cid": [], "adist": [], "edist": []}
            for qid, qe in qs:
                # ADC: per-subspace lookup distance to the CHOSEN
                # codeword, folded j=0..7 — 0.0 + d0 + d1 + … exactly
                # like fold_sum over the dist_js array
                ad = np.zeros(n)
                for j in range(8):
                    cw = CB[codes[:, j], j * 8:j * 8 + 8]      # n×8
                    dj = np.zeros(n)
                    for d in range(8):
                        diff = qe[j * 8 + d] - cw[:, d]
                        dj += diff * diff
                    ad += dj
                # exact rerank distance: the same 64-dim sequential fold
                ed = np.zeros(n)
                for d in range(64):
                    diff = qe[d] - E[:, d]
                    ed += diff * diff
                out["qid"].append(np.full(n, qid, dtype=cids.dtype))
                out["cid"].append(cids)
                out["adist"].append(ad)
                out["edist"].append(ed)
            yield pd.DataFrame({c: np.concatenate(v)
                                for c, v in out.items()})

    scored = (emb.filter(F.col("vec_id") >= 5).select("vec_id", "e")
              .mapInPandas(f, schema=f"qid {idt}, cid {idt}, "
                                     "adist double, edist double"))
    # both rankings from ONE pass: the two windows share the qid
    # partitioning, so the corpus is scanned and shuffled exactly once
    # and recall@10 is the direct intersection count — no self-join of
    # two top-k branches (which would execute the scored subtree twice)
    wq = Window.partitionBy("qid").orderBy(F.col("adist"), F.col("cid"))
    we = Window.partitionBy("qid").orderBy(F.col("edist"), F.col("cid"))
    ranked = (scored.withColumn("rq", F.row_number().over(wq))
                    .withColumn("rx", F.row_number().over(we)))
    both = F.when((F.col("rq") <= 10) & (F.col("rx") <= 10), 1).otherwise(0)
    return (ranked.groupBy("qid")
                  .agg((F.sum(both).cast("double") / F.lit(10.0))
                       .alias("recall_at_10")))


@query("temperature_mix_weights", """
WITH c AS (SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS toks
           FROM documents GROUP BY lang),
t AS (SELECT lang, n_docs, toks,
             CAST(toks AS DOUBLE) / CAST(SUM(toks) OVER () AS DOUBLE) AS p
      FROM c),
w AS (SELECT lang, n_docs, round(p, 6) AS tok_share, POW(p, 0.3) AS pw
      FROM t)
SELECT lang, n_docs, tok_share,
       round(pw / SUM(pw) OVER (), 6) AS w_temp
FROM w
""")
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights (the mT5/XLM-R
    mixture rule): per-language token share p_l, resampled as
    p_l^alpha / Σ p^alpha with alpha=0.3 — upweights tail languages
    without letting the head dominate.  Token totals are exact integer
    sums (order-independent); the pow/normalize arithmetic runs over
    the tiny per-language aggregate (constant-size global window, the
    dsir λ-table move) and is rounded to 6 dp where libm could differ
    in the last ulp."""
    d = read_table(_spark(spark), sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"),
                              F.sum("n_chars").alias("toks"))
    wg = Window.partitionBy()
    t = c.withColumn("p", F.col("toks").cast("double")
                     / F.sum("toks").over(wg).cast("double"))
    w = t.select("lang", "n_docs", F.round("p", 6).alias("tok_share"),
                 F.pow("p", F.lit(0.3)).alias("pw"))
    return w.select("lang", "n_docs", "tok_share",
                    F.round(F.col("pw") / F.sum("pw").over(wg), 6)
                     .alias("w_temp"))


@query("winsorize_values", """
WITH b AS (SELECT event_type,
                  quantile_cont("value", 0.01) AS p01,
                  quantile_cont("value", 0.99) AS p99
           FROM events GROUP BY event_type)
SELECT e.event_type, round(b.p01, 6) AS p01, round(b.p99, 6) AS p99,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN e."value" < b.p01 OR e."value" > b.p99
           THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       round(CAST(SUM(CAST(LEAST(GREATEST(e."value", b.p01), b.p99)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_winsorized
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type, b.p01, b.p99
""")
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics — outlier clipping at exact
    per-group p01/p99 before aggregation (the standard guard before
    any mean-based feature or loss).  Exact `percentile` hash-matches
    DuckDB's quantile_cont (the ccnet_ppl_buckets precedent); the tiny
    per-type threshold table broadcasts back onto the events, and the
    clipped mean accumulates in decimal so it is partition-order
    independent.  Two aggregation shuffles on event_type, one
    broadcast join — no global sort, no ntile."""
    ev = read_events(_spark(spark), sf_dir)
    b = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"))
    j = ev.join(F.broadcast(b), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return (j.groupBy("event_type", "p01", "p99")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.when((F.col("value") < F.col("p01"))
                               | (F.col("value") > F.col("p99")), 1)
                         .otherwise(0)).alias("n_clipped"),
                  F.round(F.sum(clipped.cast(DEC)).cast("double")
                          / F.count(F.lit(1)), 6).alias("mean_winsorized"))
             .select("event_type", F.round("p01", 6).alias("p01"),
                     F.round("p99", 6).alias("p99"), "n", "n_clipped",
                     "mean_winsorized"))


@query("vocab_drift_jsd", """
WITH w AS (SELECT doc_id % 2 AS half, lang,
                  unnest(string_split(text, ' ')) AS tok
           FROM documents),
cnt AS (SELECT lang, tok,
               SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
               SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
        FROM w GROUP BY lang, tok),
tot AS (SELECT lang, SUM(c0) AS t0, SUM(c1) AS t1, COUNT(*) AS v
        FROM cnt GROUP BY lang),
pq AS (SELECT c.lang, c.tok,
              (c.c0 + 1.0) / (t.t0 + t.v) AS p,
              (c.c1 + 1.0) / (t.t1 + t.v) AS q
       FROM cnt c JOIN tot t ON c.lang = t.lang),
terms AS (SELECT lang,
                 CAST(round(0.5 * (p * ln(2 * p / (p + q)))
                          + 0.5 * (q * ln(2 * q / (p + q))), 9)
                      AS DECIMAL(28,9)) AS term
          FROM pq)
SELECT lang, round(CAST(SUM(term) AS DOUBLE), 6) AS jsd
FROM terms GROUP BY lang
""")
def vocab_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: Jensen-Shannon divergence between
    the unigram distributions of two corpus halves (doc_id parity
    stands in for run N vs run N+1), per language — the data-quality
    alarm that catches a scraper or filter change before training
    does.  Add-1 smoothing over the joint vocabulary; each JSD term is
    rounded at 9 dp and summed in decimal (the dsir/lm discipline —
    ln is the only libm call and it never enters a float accumulation).
    Shuffles are vocab-sized (explode → (lang,tok) agg → lang rollup),
    never corpus-sized; the per-language total table broadcasts."""
    d = read_table(_spark(spark), sf_dir, "documents")
    toks = d.select((F.col("doc_id") % 2).alias("half"), "lang",
                    F.explode(F.split("text", " ")).alias("tok"))
    # the vocab-sized count table feeds BOTH the per-language totals
    # and the join probe side — persist_once or the corpus explode+agg
    # runs twice (vocab-sized cache, scale-safe)
    cnt = persist_once(
        toks.groupBy("lang", "tok")
            .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
                  .alias("c0"),
                 F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
                  .alias("c1")))
    tot = cnt.groupBy("lang").agg(F.sum("c0").alias("t0"),
                                  F.sum("c1").alias("t1"),
                                  F.count(F.lit(1)).alias("v"))
    pq = cnt.join(F.broadcast(tot), "lang").select(
        "lang",
        ((F.col("c0") + 1.0) / (F.col("t0") + F.col("v"))).alias("p"),
        ((F.col("c1") + 1.0) / (F.col("t1") + F.col("v"))).alias("q"))
    p, q = F.col("p"), F.col("q")
    term = (F.round(F.lit(0.5) * (p * F.log(F.lit(2) * p / (p + q)))
                    + F.lit(0.5) * (q * F.log(F.lit(2) * q / (p + q))), 9)
            .cast("decimal(28,9)"))
    return (pq.select("lang", term.alias("term"))
              .groupBy("lang")
              .agg(F.round(F.sum("term").cast("double"), 6).alias("jsd")))


@query("pmi_collocations", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
big AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)),
bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
uc AS (SELECT w1 AS tok, COUNT(*) AS c FROM big GROUP BY w1),
tots AS (SELECT (SELECT SUM(c) FROM uc) AS n_uni,
                (SELECT SUM(c12) FROM bc) AS n_big),
p AS (SELECT b.w1, b.w2, b.c12,
             round(ln((CAST(b.c12 AS DOUBLE) * t.n_uni * t.n_uni)
                      / (CAST(t.n_big AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
      FROM bc b JOIN uc u1 ON b.w1 = u1.tok
                JOIN uc u2 ON b.w2 = u2.tok, tots t
      WHERE b.c12 >= 5)
SELECT w1, w2, c12, pmi FROM p
QUALIFY ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) <= 20
""")
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining — the classic
    phrase detector (word2vec's phrase pass, quality-filter n-gram
    lists).  Counting model: bigram events only — unigram marginals
    are counted over the FIRST slot of each bigram so marginal and
    joint totals come from the same event space.  Bigrams come from
    the zip_with(slice, slice) form (heavy work in HOF arguments, the
    §27 discipline); the vocab-sized count tables are cached once,
    totals are control-plane scalars off the cached tables, and PMI is
    one ln over an exact integer ratio, rounded at 6 dp before the
    deterministic top-20 rank.  All shuffles are vocab-sized."""
    d = read_table(_spark(spark), sf_dir, "documents")
    t = _spread(d.select("doc_id", "text"), spark) \
        .select("doc_id", F.split("text", " ").alias("w"))
    big = (t.filter(F.size("w") >= 2)
            .select(F.explode(F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.expr("slice(w, 2, size(w) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
                .alias("bg"))
            .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")))
    bc = persist_once(big.groupBy("w1", "w2")
                         .agg(F.count(F.lit(1)).alias("c12")))
    uc = persist_once(bc.groupBy(F.col("w1").alias("tok"))
                        .agg(F.sum("c12").alias("c")))
    n_uni = uc.agg(F.sum("c")).collect()[0][0]          # control-plane ints
    n_big = bc.agg(F.sum("c12")).collect()[0][0]
    p = (bc.filter(F.col("c12") >= 5)
           .join(F.broadcast(uc.select(F.col("tok").alias("w1"),
                                       F.col("c").alias("c1"))), "w1")
           .join(F.broadcast(uc.select(F.col("tok").alias("w2"),
                                       F.col("c").alias("c2"))), "w2")
           .select("w1", "w2", "c12",
                   F.round(F.log((F.col("c12").cast("double")
                                  * F.lit(n_uni) * F.lit(n_uni))
                                 / (F.lit(float(n_big)) * F.col("c1")
                                    * F.col("c2"))), 6).alias("pmi")))
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return (p.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 20).drop("rn")
             .select("w1", "w2", "c12", "pmi"))


@query("streaming_lsh_dedup_pairs", """
WITH sig AS ({sig}),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, COUNT(*) AS n_bands
FROM pairs GROUP BY doc_a, doc_b
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS)))
def streaming_lsh_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection end-to-end
    (streaming/lsh_index.py): the corpus arrives in two ingest
    batches; each batch probes the persistent LSH band index
    (path-pruned bucket reads), emits the candidate pairs it
    completes, then appends its own bands. The oracle is the FULL
    corpus banded self-join — the streaming split must reproduce it
    exactly, every pair exactly once, whatever the batch boundaries
    (the streaming_bounded_dedup convention applied to the LLM dedup
    surface; 2-way and 5-way splits additionally pytest-proven in
    tests/test_session5_ops.py)."""
    import shutil
    import tempfile
    from .streaming.lsh_index import StreamingLshIndex

    s = _spark(spark)
    docs = _spread(read_table(s, sf_dir, "documents")
                   .select("doc_id", "text"), s)
    work = tempfile.mkdtemp(prefix="sparkcdc_lsh_")
    # size per-batch shuffles to the ingest batch, not the session's
    # analytical default (the reference sizes its chunks the same way,
    # executor.py:44): a 200-partition conf turns every micro-batch
    # stage into 200 near-empty tasks × ~10 stages × batches
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "32")
    try:
        idx = StreamingLshIndex(index_path=f"{work}/index")
        outs = [idx.process_batch(s, docs.filter(F.col("doc_id") % 2 == b))
                for b in range(2)]
        return union_epochs(outs).groupBy("doc_a", "doc_b").agg(
            F.sum("n_bands").alias("n_bands"))
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


@query("lateral_topk_per_customer", """
SELECT c.o_custkey, t.o_orderkey, t.o_totalprice
FROM (SELECT DISTINCT o_custkey FROM orders) c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.o_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
""")
def lateral_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-3 orders per customer) — the
    SQL-surface form of per-group top-k, run through spark.sql verbatim
    (identical text to the DuckDB oracle). Catalyst decorrelates the
    LATERAL + LIMIT into a ranked join — no per-customer re-execution;
    the same WindowGroupLimit shape as the DataFrame top-k queries."""
    s = _spark(spark)
    read_table(s, sf_dir, "orders").createOrReplaceTempView(
        "orders_lateral_v")
    return s.sql("""
        SELECT c.o_custkey, t.o_orderkey, t.o_totalprice
        FROM (SELECT DISTINCT o_custkey FROM orders_lateral_v) c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lateral_v o
                 WHERE o.o_custkey = c.o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
    """)


@query("event_transition_matrix", """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type AS from_type, next_type AS to_type,
       COUNT(*) AS n,
       round(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER
             (PARTITION BY event_type), 6) AS p
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""")
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the path-analysis staple behind sankeys and
    next-action models. One user-keyed window for LEAD (deterministic
    (ts, event_id) order), then a type-pair rollup whose key space is
    |types|² — the normalization window runs over that tiny aggregate,
    never the event stream."""
    ev = read_events(_spark(spark), sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.select("user_id", "event_type",
                     F.lead("event_type").over(w).alias("next_type"))
             .filter(F.col("next_type").isNotNull()))
    cnt = (seq.groupBy(F.col("event_type").alias("from_type"),
                       F.col("next_type").alias("to_type"))
              .agg(F.count(F.lit(1)).alias("n")))
    wn = Window.partitionBy("from_type")
    return cnt.select(
        "from_type", "to_type", "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wn), 6)
         .alias("p"))


@query("funnel_time_to_convert", """
WITH s AS (SELECT user_id, MIN(ts) AS t0 FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t0
      GROUP BY e.user_id),
d AS (SELECT s.user_id,
             date_diff('second', s.t0, p.t1) AS sec_to_convert
      FROM s JOIN p ON s.user_id = p.user_id)
SELECT COUNT(*) AS n_converted,
       CAST(MIN(sec_to_convert) AS BIGINT) AS min_sec,
       round(quantile_cont(sec_to_convert, 0.5), 6) AS median_sec,
       round(quantile_cont(sec_to_convert, 0.9), 6) AS p90_sec,
       CAST(MAX(sec_to_convert) AS BIGINT) AS max_sec
FROM d
""")
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per-user first signup → first subsequent
    purchase, summarized as exact conversion-time percentiles (the
    activation-metric companion to event_funnel_stages). Two
    user-keyed aggregates feed one user join; the percentile runs over
    the converted-user aggregate (user-count-sized, exact `percentile`
    ≡ quantile_cont — swap approx_percentile behind the same plan at
    100 TB, the winsorize convention). Second diffs are exact
    integers."""
    ev = read_events(_spark(spark), sf_dir)
    s0 = (ev.filter(F.col("event_type") == "signup")
            .groupBy("user_id").agg(F.min("ts").alias("t0")))
    # t0 is constant per user after the join, so carrying MIN(t0)
    # through the purchase aggregate avoids rebuilding and re-joining
    # the signup aggregate (one events scan per funnel stage, not two
    # for the signup stage)
    d = (ev.filter(F.col("event_type") == "purchase")
           .join(s0, "user_id")
           .filter(F.col("ts") > F.col("t0"))
           .groupBy("user_id").agg(F.min("ts").alias("t1"),
                                   F.min("t0").alias("t0"))
           .select((F.unix_timestamp("t1") - F.unix_timestamp("t0"))
                   .alias("sec_to_convert")))
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("sec_to_convert").cast("long").alias("min_sec"),
        F.round(F.percentile("sec_to_convert", F.lit(0.5)), 6)
         .alias("median_sec"),
        F.round(F.percentile("sec_to_convert", F.lit(0.9)), 6)
         .alias("p90_sec"),
        F.max("sec_to_convert").cast("long").alias("max_sec"))


@query("multi_eval_decontaminate", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                    % 100 AS bucket
           FROM documents),
g AS (SELECT doc_id, bucket, md5(array_to_string(w[i:i+7], ' ')) AS gh
      FROM t, unnest(range(1, len(w) - 6)) u(i)),
ev AS (SELECT DISTINCT gh,
              CASE WHEN bucket <= 93 THEN 'evalA'
                   WHEN bucket <= 96 THEN 'evalB'
                   ELSE 'evalC' END AS eval_set
       FROM g WHERE bucket >= 90)
SELECT g.doc_id, ev.eval_set,
       CAST(COUNT(DISTINCT g.gh) AS BIGINT) AS n_bad_grams
FROM g JOIN ev ON g.gh = ev.gh
WHERE g.bucket < 80
GROUP BY g.doc_id, ev.eval_set
""")
def multi_eval_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against MANY eval benchmarks in ONE train-corpus
    pass — the production shape: labs hold dozens of eval sets, and
    re-scanning 100 TB of training text once per benchmark is the
    naive cost this operator removes. The per-set label rides the
    broadcast eval-gram table (eval sets are always tiny next to the
    corpus), so the train side explodes and probes exactly once and
    reports per-(doc, benchmark) contaminated-gram counts. Same 8-gram
    md5 wire discipline as `ngram_decontaminate`."""
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 100)
    gram_col = F.explode(F.expr(
        "CASE WHEN size(_w) >= 8 THEN "
        "transform(sequence(1, size(_w) - 7), "
        "i -> md5(array_join(slice(_w, i, 8), ' '))) "
        "ELSE array() END")).alias("gh")
    db = d.select("doc_id", bucket.alias("bucket"),
                  F.split("text", " ").alias("_w"))
    set_label = (F.when(F.col("bucket") <= 93, "evalA")
                  .when(F.col("bucket") <= 96, "evalB")
                  .otherwise("evalC"))
    ev = (db.filter(F.col("bucket") >= 90)
            .select(gram_col, set_label.alias("eval_set")).distinct())
    return (db.filter(F.col("bucket") < 80).select("doc_id", gram_col)
              .join(F.broadcast(ev), "gh")
              .groupBy("doc_id", "eval_set")
              .agg(F.countDistinct("gh").alias("n_bad_grams")))


@query("fuzzy_eval_decontaminate", """
WITH sig AS ({sig}),
b AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
               % 100 AS bucket
      FROM documents),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS da, e.doc_id AS de
  FROM bands a
  JOIN b ba ON ba.doc_id = a.doc_id AND ba.bucket < 80
  JOIN bands e ON a.band = e.band AND a.bv = e.bv
  JOIN b be ON be.doc_id = e.doc_id AND be.bucket >= 90),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 7))
                ::BIGINT AS v
       FROM idx),
inter AS (SELECT c.da, c.de, COUNT(*) AS ni
          FROM cand c
          JOIN sh x ON x.doc_id = c.da
          JOIN sh y ON y.doc_id = c.de AND y.v = x.v
          GROUP BY c.da, c.de),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
hits AS (SELECT i.da, i.de
         FROM inter i
         JOIN cnt a ON a.doc_id = i.da
         JOIN cnt e ON e.doc_id = i.de
         WHERE 5 * i.ni >= 3 * (a.n + e.n - i.ni))
SELECT da AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_dups,
       MIN(de) AS closest_eval
FROM hits GROUP BY da
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS)))
def fuzzy_eval_decontaminate(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """FUZZY decontamination — near-duplicate matching between the
    train split and the eval holdout (the FineWeb/Dolma complement to
    exact n-gram matching): flag every train doc whose word-3-gram
    shingle Jaccard with ANY eval doc reaches the hybrid threshold
    (3/5), with the matched-eval count and the closest (min-id) eval
    doc as the audit signal. Catches paraphrase-level / lightly-edited
    eval leakage that `ngram_decontaminate`'s exact 8-gram containment
    misses once a few tokens are perturbed; completes the
    decontamination family (whole-doc fingerprint → exact n-gram,
    single + multi-eval → fuzzy Jaccard).

    Scale shape: candidates come from the MinHash band join with the
    EVAL side broadcast (eval sets are always tiny next to a 100 TB
    train corpus — the train side never shuffles for candidates, same
    asymmetry as the gram-based siblings); exact-Jaccard verification
    touches only candidate pairs' shingle sets via
    ``verify_jaccard_pairs`` (integer arithmetic, the
    `hybrid_dedup_keep` contract), so false band collisions die
    without a corpus-sized join anywhere."""
    from .operators.llm.hybrid import verify_jaccard_pairs
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    sig = persist_once(_minhash_sig_df(s, sf_dir))
    bands = union_epochs([
        sig.select("doc_id", F.lit(bd).alias("band"),
                   F.concat_ws("|", *[F.col(f"h{bd * 4 + i}")
                                      for i in range(4)]).alias("bv"))
        for bd in range(_LSH_BANDS)])
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 100)
    train_b = bands.filter(bucket < 80).alias("a")
    eval_b = bands.filter(bucket >= 90).alias("e")
    cand = (train_b
            .join(F.broadcast(eval_b),
                  (F.col("a.band") == F.col("e.band"))
                  & (F.col("a.bv") == F.col("e.bv")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("e.doc_id").alias("doc_b"))
            .distinct()
            # tiny true-collision list; eager pin so verify's four
            # references (pair ids ×2, intersection, final left-join)
            # never re-analyze or re-run the band join — the same pin
            # lsh_incremental_verified_pairs carries (r13: un-pinned,
            # the candidate subtree inflated the plan to ~966 KB and
            # the band join executed once per reference)
            .localCheckpoint(eager=True))
    return (verify_jaccard_pairs(d, cand, 3, 5)
            .filter("verified")
            .groupBy("doc_a")
            .agg(F.count(F.lit(1)).alias("n_eval_dups"),
                 F.min("doc_b").alias("closest_eval"))
            .select(F.col("doc_a").alias("doc_id"),
                    "n_eval_dups", "closest_eval"))


@query("semantic_eval_decontaminate", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
b AS (SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT
               % 100 AS bucket
      FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
t AS (SELECT n.* FROM n JOIN b ON b.vec_id = n.vec_id AND b.bucket < 80),
ev AS (SELECT n.vec_id AS eid, n.e AS ee, n.nrm AS en
       FROM n JOIN b ON b.vec_id = n.vec_id AND b.bucket >= 90),
s AS (SELECT t.vec_id, ev.eid,
             round(list_sum(list_transform(range(1, 65),
                            i -> t.e[i] * ev.ee[i])) / (t.nrm * ev.en),
                   6) AS sim
      FROM t, ev)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_eval_near,
       MAX(sim) AS max_sim
FROM s WHERE sim >= 0.35 GROUP BY vec_id
""")
def semantic_eval_decontaminate(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement to the
    token-space family: flag every train-split vector whose cosine with
    ANY eval-split vector reaches 0.35, with the near-eval count and
    the max (6dp-rounded) similarity as the audit signal. Catches
    rewritten/translated eval leakage that shares no tokens at all —
    the layer token n-grams (`ngram_decontaminate`) and shingle Jaccard
    (`fuzzy_eval_decontaminate`) cannot see.

    Scale shape: the EVAL side broadcasts (eval sets are tiny next to a
    100 TB corpus) and the train side streams once through the
    broadcast-NL scoring kernel — dot products as JVM higher-order
    functions (`zip_with`/`aggregate`, no Python), the same deliberate
    brute-force pattern as `embedding_topk`; the IVF/PQ variants
    (`embedding_ivf_ann`, `embedding_pq_ann_recall`) are the documented
    index path when the eval side outgrows a broadcast. Both engines
    filter on the 6dp-rounded sim so boundary values agree."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    bucket = (F.conv(F.substring(F.md5(F.col("vec_id").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 100)
    n = emb.select(
        "vec_id", "e", bucket.alias("bucket"),
        F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                           F.lit(0.0), lambda a, x: a + x)).alias("nrm"))
    t = n.filter(F.col("bucket") < 80).drop("bucket")
    ev = (n.filter(F.col("bucket") >= 90)
          .select(F.col("vec_id").alias("eid"), F.col("e").alias("ee"),
                  F.col("nrm").alias("en")))
    dot = F.aggregate(F.zip_with("e", "ee", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    scored = (t.crossJoin(F.broadcast(ev))
              .select("vec_id",
                      F.round(dot / (F.col("nrm") * F.col("en")), 6)
                      .alias("sim")))
    return (scored.filter(F.col("sim") >= 0.35)
            .groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("n_eval_near"),
                 F.max("sim").alias("max_sim")))


@query("ann_index_probe", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
cent AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < 8),
d AS (SELECT vec_id, e, cent_id,
             list_sum(list_transform(range(1, 65),
                      i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
      FROM v, cent),
assign AS (SELECT vec_id, e, cent_id FROM d
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) = 1),
n AS (SELECT vec_id, e, cent_id,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM assign),
qcells AS (SELECT vec_id AS qid, cent_id FROM d
           WHERE vec_id IN (5, 6, 7)
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) <= 2),
q AS (SELECT vec_id AS qid, e AS qe,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
      FROM v WHERE vec_id IN (5, 6, 7)),
s AS (SELECT qc.qid, n.vec_id AS cid,
             round(list_sum(list_transform(range(1, 65),
                            i -> q.qe[i] * n.e[i])) / (q.qn * n.nrm), 6)
               AS sim
      FROM qcells qc JOIN n ON n.cent_id = qc.cent_id
                     JOIN q ON q.qid = qc.qid
      WHERE n.vec_id <> qc.qid)
SELECT qid, cid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 5
""")
def ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent IVF index end-to-end (operators/llm/annindex.py):
    BUILD materializes the inverted file as parquet partitioned by
    cell (shuffle-free array-literal-argmin assignment, one file per
    cell), PROBE selects each query's nprobe=2 nearest cells
    driver-side and reads ONLY those cell directories — probe I/O is
    corpus/n_cells × nprobe, the serving-path property the in-query
    IVF (`embedding_ivf_ann`) cannot give. Cell choice and cosine use
    the oracle's IEEE fold order, so the pruned result replays
    bit-exactly."""
    import shutil
    import tempfile
    from .operators.llm.annindex import IvfVectorIndex

    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    work = tempfile.mkdtemp(prefix="sparkcdc_ivf_")
    try:
        idx = IvfVectorIndex(index_path=f"{work}/index", n_cells=8)
        idx.build(s, emb)
        probes = (emb.filter(F.col("vec_id").isin([5, 6, 7]))
                     .select(F.col("vec_id").alias("qid"),
                             F.col("e").alias("qe")))
        out = idx.probe(s, probes, k=5, nprobe=2)
        # pin before the tempdir vanishes
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("events_hourly_heatmap", """
SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS INTEGER) AS hod,
       COUNT(*) AS n,
       round(CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_value
FROM events GROUP BY dayofweek(ts), hour(ts)
""")
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the ops-dashboard
    staple. One aggregation shuffle over the 168-cell key after
    map-side partials; decimal-exact means. Engine quirk pinned here:
    Spark's dayofweek is 1-based Sunday=1, DuckDB's 0-based Sunday=0 —
    the projection normalizes to DuckDB's convention so the contract
    is explicit rather than accidental."""
    ev = read_events(_spark(spark), sf_dir)
    return (ev.groupBy((F.dayofweek("ts") - 1).alias("dow"),
                       F.hour("ts").alias("hod"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum(F.col("value").cast(DEC)).cast("double")
                           / F.count(F.lit(1)), 6).alias("mean_value")))


@query("value_histogram_bins", """
SELECT event_type,
       CAST(floor("value" / 50.0) AS BIGINT) AS bin,
       COUNT(*) AS n
FROM events GROUP BY event_type, floor("value" / 50.0)
""")
def value_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per group — the profiling primitive under
    every distribution dashboard: one aggregation shuffle over the
    (type, bin) key after map-side partials; no sort, no window, no
    driver-side binning. Bin edges are exact integer floors of the
    scaled value, so cell membership is engine-independent."""
    ev = read_events(_spark(spark), sf_dir)
    return (ev.groupBy("event_type",
                       F.floor(F.col("value") / 50.0).alias("bin"))
              .agg(F.count(F.lit(1)).alias("n")))


@query("user_feature_export", """
WITH base AS (
  SELECT user_id, COUNT(*) AS n_events,
         COUNT(DISTINCT CAST(ts AS DATE)) AS days_active,
         round(CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS mean_value,
         strftime(MAX(CAST(ts AS DATE)), '%Y-%m-%d') AS last_day
  FROM events GROUP BY user_id),
tc AS (SELECT user_id, event_type, COUNT(*) AS c FROM events
       GROUP BY user_id, event_type),
fav AS (SELECT user_id, event_type AS top_type FROM tc
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY c DESC, event_type) = 1)
SELECT b.user_id, b.n_events, b.days_active, b.mean_value, b.last_day,
       f.top_type
FROM base b JOIN fav f ON b.user_id = f.user_id
""")
def user_feature_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity ML feature assembly — the churn/LTV feature export
    every event store ends up producing: activity counts, active days,
    decimal-exact mean value, recency, modal event type (deterministic
    tie-break). Two user-keyed aggregates sharing one shuffle key +
    a user-keyed top-1 window; every feature is exactly reproducible
    (the property that makes offline/online feature parity possible)."""
    ev = read_events(_spark(spark), sf_dir)
    base = (ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.to_date("ts")).alias("days_active"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double")
                / F.count(F.lit(1)), 6).alias("mean_value"),
        F.date_format(F.max(F.to_date("ts")), "yyyy-MM-dd")
         .alias("last_day")))
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c"))
    wf = Window.partitionBy("user_id").orderBy(F.col("c").desc(),
                                               "event_type")
    fav = (tc.withColumn("rn", F.row_number().over(wf))
             .filter(F.col("rn") == 1)
             .select("user_id", F.col("event_type").alias("top_type")))
    return base.join(fav, "user_id").select(
        "user_id", "n_events", "days_active", "mean_value", "last_day",
        "top_type")


@query("doc_feature_join", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id,
             round(sqrt(list_sum(list_transform(e, x -> x * x))), 6)
               AS emb_norm
      FROM v)
SELECT d.doc_id, d.lang, d.source, d.n_chars,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       n.emb_norm
FROM documents d JOIN n ON d.doc_id = n.vec_id
""")
def doc_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal feature assembly: text-side features joined with
    the document's embedding statistics (vec_id aligns with doc_id in
    the driver fixtures — the co-partitioned layout a real pipeline
    maintains). At 100 TB both sides bucket on the shared id, so this
    join is co-located (bucketed_join_revenue demonstrates the
    Exchange-free form); here it is a plain equi-join with the norm
    computed as a fold in oracle IEEE order."""
    s = _spark(spark)
    d = read_table(s, sf_dir, "documents")
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    nrm = F.round(F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                                     F.lit(0.0), lambda a, x: a + x)), 6)
    n = emb.select("vec_id", nrm.alias("emb_norm"))
    return (d.join(n, d["doc_id"] == n["vec_id"])
             .select("doc_id", "lang", "source", "n_chars",
                     F.size(F.split("text", " ")).cast("long")
                      .alias("n_tokens"),
                     "emb_norm"))


def _doremi_mix_oracle() -> str:
    return """
WITH ppl AS ({base}),
j AS (SELECT p.doc_id, p.ppl, d.source
      FROM ppl p JOIN documents d ON p.doc_id = d.doc_id),
agg AS (SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CAST(ppl AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) AS mean_ppl
        FROM j GROUP BY source),
x AS (SELECT source, n_docs, mean_ppl,
             mean_ppl / MIN(mean_ppl) OVER () AS excess,
             CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS share
      FROM agg),
w AS (SELECT source, n_docs, mean_ppl, excess,
             share * excess AS raw_w FROM x)
SELECT source, n_docs, round(mean_ppl, 6) AS mean_ppl,
       round(excess, 6) AS excess,
       round(raw_w / SUM(raw_w) OVER (), 6) AS w_mix
FROM w
""".format(base=ORACLES["unigram_perplexity"].rstrip())


@query("doremi_mix_weights", None)
def doremi_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-loss domain reweighting (DoReMi's core signal,
    simplified to one round): per-source mean perplexity under the
    corpus unigram LM, normalized by the easiest domain; mixture
    weight ∝ doc share × excess loss, so harder domains are upsampled
    relative to their size — the loss-aware alternative to
    `temperature_mix_weights`. Composes the independently-oracled
    per-doc perplexities (already 4dp-rounded, cross-engine
    identical); the per-source aggregate is decimal-accumulated and
    the normalize arithmetic runs on the sources-sized table
    (constant-size windows, the dsir λ-table move)."""
    ppl = QUERIES["unigram_perplexity"](spark, sf_dir) \
        .select("doc_id", "ppl")
    d = read_table(_spark(spark), sf_dir, "documents") \
        .select("doc_id", "source")
    agg = (ppl.join(d, "doc_id")
              .groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   (F.sum(F.col("ppl").cast(DEC)).cast("double")
                    / F.count(F.lit(1))).alias("mean_ppl")))
    wg = Window.partitionBy()
    x = agg.select(
        "source", "n_docs", "mean_ppl",
        (F.col("mean_ppl") / F.min("mean_ppl").over(wg)).alias("excess"),
        (F.col("n_docs").cast("double")
         / F.sum("n_docs").over(wg)).alias("share"))
    w = x.withColumn("raw_w", F.col("share") * F.col("excess"))
    return w.select(
        "source", "n_docs", F.round("mean_ppl", 6).alias("mean_ppl"),
        F.round("excess", 6).alias("excess"),
        F.round(F.col("raw_w") / F.sum("raw_w").over(wg), 6)
         .alias("w_mix"))


ORACLES["doremi_mix_weights"] = _doremi_mix_oracle()


def _quality_keep_calibrated_oracle() -> str:
    return """
WITH sc AS ({base}),
j AS (SELECT s.doc_id, d.lang, s.margin
      FROM sc s JOIN documents d ON s.doc_id = d.doc_id),
th AS (SELECT lang, quantile_cont(margin, 0.7) AS thr
       FROM j GROUP BY lang)
SELECT j.doc_id, j.lang, j.margin, round(th.thr, 6) AS thr,
       (j.margin > th.thr) AS keep
FROM j JOIN th ON j.lang = th.lang
""".format(base=ORACLES["quality_classifier_score"].rstrip())


@query("quality_keep_calibrated", None)
def quality_keep_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-rate-calibrated quality filtering: a fixed global margin
    threshold keeps wildly different fractions per language (the
    classifier is trained on the head language), so production filters
    calibrate the cutoff per language to a TARGET KEEP RATE — here the
    top 30 % by margin within each language. Exact per-language
    percentile over the (already 6dp-rounded, cross-engine-identical)
    margins; thresholds are a languages-sized broadcast; at 100 TB the
    percentile swaps for approx_percentile behind the same plan (the
    winsorize convention)."""
    sc = QUERIES["quality_classifier_score"](spark, sf_dir) \
        .select("doc_id", "margin")
    d = read_table(_spark(spark), sf_dir, "documents") \
        .select("doc_id", "lang")
    j = sc.join(d, "doc_id")
    th = j.groupBy("lang").agg(
        F.percentile("margin", F.lit(0.7)).alias("thr"))
    return (j.join(F.broadcast(th), "lang")
             .select("doc_id", "lang", "margin",
                     F.round("thr", 6).alias("thr"),
                     (F.col("margin") > F.col("thr")).alias("keep")))


ORACLES["quality_keep_calibrated"] = _quality_keep_calibrated_oracle()


def _zorder_layout_oracle() -> str:
    from .operators.zorder import zorder_key_sql
    return """
WITH base AS (
  SELECT (user_id & 255) AS x,
         (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) & 255) AS y
  FROM events),
z AS (SELECT x, y, ({zexpr}) AS zval FROM base)
SELECT (zval >> 10) AS zbucket, COUNT(*) AS n,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM z GROUP BY zbucket
""".format(zexpr=zorder_key_sql("x", "y", 8))


@query("zorder_layout_stats", _zorder_layout_oracle())
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout statistics — the data-layout operator for
    two-dimensional pruning (operators/zorder.py).  Events bucketed to
    8 bits of user and 8 bits of day are interleaved into a 16-bit
    Morton key; grouping by the key's top 6 bits simulates a 64-file
    range layout and reports each file's min/max footprint in BOTH
    dimensions.  The guarantee this query makes visible (and the pytest
    asserts): every bucket spans ≤ 2^5 distinct values per dimension
    (the 10 interleaved low bits carry 5 bits of each), so a predicate
    on EITHER user or day prunes ~7/8 of the files —
    single-key sorts give that for one dimension and nothing for the
    other.  Pure integer bit arithmetic (codegen), one aggregation
    shuffle on the 64-value bucket key after map-side partials."""
    from .operators.zorder import zorder_key
    ev = read_events(_spark(spark), sf_dir)
    base = ev.select(
        F.col("user_id").bitwiseAND(F.lit(255)).alias("x"),
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
         .cast("long").bitwiseAND(F.lit(255)).alias("y"))
    z = base.withColumn("zval", zorder_key(F.col("x"), F.col("y"), 8))
    return (z.groupBy(F.shiftright("zval", 10).alias("zbucket"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("x").alias("x_min"), F.max("x").alias("x_max"),
                  F.min("y").alias("y_min"), F.max("y").alias("y_max")))


# ---------------------------------------------------------------------------
# round 7: single-entry hybrid dedup (VERDICT r6 #4)

_HYBRID_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
hv AS (SELECT doc_id,
              ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 7))
                ::BIGINT AS v
       FROM idx),
sh AS (SELECT DISTINCT doc_id, v FROM hv),
sig AS (SELECT doc_id,
  {mins}
FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS ni
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.v = x.v
  GROUP BY c.da, c.db),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
edges AS (
  SELECT i.da AS s, i.db AS d
  FROM inter i
  JOIN cnt a ON a.doc_id = i.da
  JOIN cnt b ON b.doc_id = i.db
  WHERE 5 * i.ni >= 3 * (a.n + b.n - i.ni)),
sym AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
reach AS (
  SELECT s AS n, d AS m FROM sym
  UNION
  SELECT r.n, e.d FROM reach r JOIN sym e ON r.m = e.s),
lbl AS (
  SELECT n, m FROM reach
  UNION ALL SELECT doc_id, doc_id FROM documents),
comp AS (SELECT n AS doc_id, MIN(m) AS component FROM lbl GROUP BY n),
tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
               AS n_tokens
        FROM documents)
SELECT component, doc_id AS keep_doc_id, n_tokens AS keep_n_tokens,
       CAST(csize AS BIGINT) AS cluster_size
FROM (SELECT component, doc_id, n_tokens,
             COUNT(*) OVER (PARTITION BY component) AS csize,
             ROW_NUMBER() OVER (PARTITION BY component
                 ORDER BY n_tokens DESC, doc_id) AS rn
      FROM comp JOIN tok USING (doc_id))
WHERE rn = 1
""".format(mins=_MINHASH_MINS)


@query("hybrid_dedup_keep", _HYBRID_ORACLE)
def hybrid_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE default text-dedup entry point (operators/llm/hybrid.py):
    LSH candidates → exact-Jaccard verify (integer-arithmetic verdict,
    5·|A∩B| ≥ 3·|A∪B|) → connected components → quality-aware keep
    (longest doc per component, min-id tie-break). One keeper row per
    component; every document belongs to exactly one component, so the
    result IS the deduplicated corpus keep-list.

    Differs from `dup_canonical_best` (which trusts every band
    collision as an edge) by killing LSH false positives before the
    closure — and from a naive exact path by never joining the full
    corpus against itself: the only corpus-wide work is the linear
    shingle scan and the uniform-key band self-join; verification cost
    is proportional to the CANDIDATE footprint. The oracle replays the
    full pipeline (distinct shingles → signatures → bands → integer
    Jaccard verdict → recursive-CTE closure → keep window) end-to-end."""
    from .operators.llm.hybrid import hybrid_dedup_keep as _hybrid
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    return _hybrid(d)


_VERIFIED_INCR_ORACLE = """
WITH sig AS ({sig}),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
cand AS (
  SELECT DISTINCT LEAST(n.doc_id, a.doc_id) AS doc_a,
                  GREATEST(n.doc_id, a.doc_id) AS doc_b
  FROM bands n JOIN bands a
    ON n.band = a.band AND n.bv = a.bv AND n.doc_id <> a.doc_id
  WHERE n.doc_id % 5 = 0),
toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx2 AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks2),
sh AS (SELECT DISTINCT doc_id,
              ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 7))
                ::BIGINT AS v
       FROM idx2),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.v = x.v
  GROUP BY c.doc_a, c.doc_b)
SELECT c.doc_a, c.doc_b,
       COALESCE(i.ni, 0) AS ni,
       COALESCE(a.n, 0) AS na,
       COALESCE(b.n, 0) AS nb,
       (COALESCE(a.n, 0) + COALESCE(b.n, 0) > 0
        AND 5 * COALESCE(i.ni, 0)
            >= 3 * (COALESCE(a.n, 0) + COALESCE(b.n, 0)
                    - COALESCE(i.ni, 0))) AS verified
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
LEFT JOIN cnt a ON a.doc_id = c.doc_a
LEFT JOIN cnt b ON b.doc_id = c.doc_b
""".format(sig=_MINHASH_SIG_SQL.format(mins=_MINHASH_MINS))


@query("lsh_incremental_verified_pairs", _VERIFIED_INCR_ORACLE)
def lsh_incremental_verified_pairs(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The streaming-shaped hybrid: the day's ingest batch (doc_id %
    5 = 0) probes the LSH band index for candidates — indexed×indexed
    never joins — and each candidate pair gets the exact-Jaccard
    verdict from `verify_jaccard_pairs` (operators/llm/hybrid.py):
    corpus pruned to pair-involved docs BEFORE shingling, intersection
    by pair-list join, integer-arithmetic verdict. This is the query
    form of `StreamingLshIndex.process_batch` + verification: the
    continuous-dedup pipeline where every emitted pair is exact-checked
    before it drives a merge/suppress decision."""
    from .operators.llm.hybrid import verify_jaccard_pairs
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    sig = persist_once(_minhash_sig_df(s, sf_dir))
    bands = union_epochs([
        sig.select("doc_id", F.lit(b).alias("band"),
                   F.concat_ws("|", *[F.col(f"h{b * 4 + i}")
                                      for i in range(4)]).alias("bv"))
        for b in range(_LSH_BANDS)])
    new = bands.filter(F.col("doc_id") % 5 == 0)
    n, a = new.alias("n"), bands.alias("a")
    cand = (n.join(a, (F.col("n.band") == F.col("a.band"))
                   & (F.col("n.bv") == F.col("a.bv"))
                   & (F.col("n.doc_id") != F.col("a.doc_id")))
             .select(F.least("n.doc_id", "a.doc_id").alias("doc_a"),
                     F.greatest("n.doc_id", "a.doc_id").alias("doc_b"))
             .distinct()
             # tiny true-collision list; eager pin so the verify joins
             # and the final left-joins never recompute the band join
             .localCheckpoint(eager=True))
    return verify_jaccard_pairs(d, cand)


_CURATION_ORACLE = """
WITH RECURSIVE m AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
           % 100 AS bucket,
         len(string_split(text, ' ')) AS n_words,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
           / len(string_split(text, ' ')) AS mwl,
         len(list_filter(string_split(text, ' '),
             w -> w IN {stop})) AS n_stop,
         CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
              AS DOUBLE) / length(text) AS vr
  FROM documents),
stage AS (
  SELECT doc_id, bucket, vr >= 0.30 AS lang_ok,
         (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3 AND 10
          AND n_stop >= 2) AS gopher_ok
  FROM m),
surv AS (SELECT doc_id FROM stage
         WHERE bucket < 90 AND lang_ok AND gopher_ok),
toks AS (SELECT d.doc_id, string_split(d.text, ' ') AS t
         FROM documents d JOIN surv s ON s.doc_id = d.doc_id),
idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
hv AS (SELECT doc_id,
              ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 7))
                ::BIGINT AS v
       FROM idx),
sh AS (SELECT DISTINCT doc_id, v FROM hv),
sig AS (SELECT doc_id,
  {mins}
FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, CONCAT_WS('|', h0, h1, h2, h3) AS bv FROM sig
  UNION ALL SELECT doc_id, 1, CONCAT_WS('|', h4, h5, h6, h7) FROM sig
  UNION ALL SELECT doc_id, 2, CONCAT_WS('|', h8, h9, h10, h11) FROM sig
  UNION ALL SELECT doc_id, 3, CONCAT_WS('|', h12, h13, h14, h15) FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS ni
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.v = x.v
  GROUP BY c.da, c.db),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
edges AS (
  SELECT i.da AS s, i.db AS d
  FROM inter i
  JOIN cnt a ON a.doc_id = i.da
  JOIN cnt b ON b.doc_id = i.db
  WHERE 5 * i.ni >= 3 * (a.n + b.n - i.ni)),
sym AS (SELECT s, d FROM edges UNION SELECT d, s FROM edges),
reach AS (
  SELECT s AS n, d AS m FROM sym
  UNION
  SELECT r.n, e.d FROM reach r JOIN sym e ON r.m = e.s),
lbl AS (
  SELECT n, m FROM reach
  UNION ALL SELECT doc_id, doc_id FROM surv),
comp AS (SELECT n AS doc_id, MIN(m) AS component FROM lbl GROUP BY n),
ntok AS (SELECT d.doc_id,
                CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         FROM documents d JOIN surv s ON s.doc_id = d.doc_id),
keepers AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY component
               ORDER BY n_tokens DESC, doc_id) AS rn
    FROM comp JOIN ntok USING (doc_id))
  WHERE rn = 1),
hold_toks AS (SELECT d.doc_id, string_split(d.text, ' ') AS w
              FROM documents d JOIN stage s ON s.doc_id = d.doc_id
              WHERE s.bucket >= 90),
g_eval AS (SELECT DISTINCT md5(array_to_string(w[i:i+7], ' ')) AS gh
           FROM hold_toks, unnest(range(1, len(w) - 6)) u(i)),
keep_toks AS (SELECT d.doc_id, string_split(d.text, ' ') AS w
              FROM documents d JOIN keepers k ON k.doc_id = d.doc_id),
contam AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS gh
        FROM keep_toks, unnest(range(1, len(w) - 6)) u(i)) t
  JOIN g_eval e ON e.gh = t.gh)
SELECT s.doc_id,
       CASE WHEN s.bucket >= 90 THEN 'eval_holdout'
            WHEN NOT s.lang_ok THEN 'lang'
            WHEN NOT s.gopher_ok THEN 'gopher'
            WHEN k.doc_id IS NULL THEN 'near_dup'
            WHEN c.doc_id IS NOT NULL THEN 'contaminated'
            ELSE 'kept' END AS drop_reason,
       (s.bucket < 90 AND s.lang_ok AND s.gopher_ok
        AND k.doc_id IS NOT NULL AND c.doc_id IS NULL) AS keep
FROM stage s
LEFT JOIN keepers k ON k.doc_id = s.doc_id
LEFT JOIN contam c ON c.doc_id = s.doc_id
""".format(stop=_STOP_SQL, mins=_MINHASH_MINS)


@query("curation_pipeline_keep", _CURATION_ORACLE)
def curation_pipeline_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data curation pipeline as one entry point —
    the cheapest-first cascade the big corpus efforts run, each stage
    reusing the exact expression its standalone oracled query pins:

      eval holdout (md5 bucket ≥ 90, `ngram_decontaminate`'s split)
      → language ID (`text_langid`) → Gopher rules
      (`gopher_quality_filter`) → VERIFIED near-dup dedup
      (`hybrid_dedup_keep`: LSH → exact-Jaccard → components →
      keep-longest) → eval 8-gram decontamination
      (`ngram_decontaminate`) → kept.

    One verdict row per document with the FIRST failing stage as the
    drop reason. Scale shape: the filter stages are one shuffle-free
    scan; dedup runs only on filter survivors (the hybrid's
    no-full-corpus-join property); decontamination explodes grams only
    for keepers and the holdout slice, eval grams broadcast."""
    from .operators.llm.hybrid import hybrid_dedup_keep as _hybrid
    s = _spark(spark)
    d = _spread(read_table(s, sf_dir, "documents")
                .select("doc_id", "text"), s)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    mwl = (F.length("text") - (n - 1)).cast("double") / n
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    vr = (F.length(F.regexp_replace(F.lower(F.col("text")), "[^aeiou]", ""))
          .cast("double") / F.length("text"))
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")
                                       .cast("binary")), 1, 7), 16, 10)
              .cast("long") % 100)
    stage = persist_once(d.select(
        "doc_id", "text", bucket.alias("bucket"),
        (vr >= 0.30).alias("lang_ok"),
        ((n >= 50) & (n <= 100000) & (mwl >= 3) & (mwl <= 10)
         & (n_stop >= 2)).alias("gopher_ok")))
    surv = (stage.filter((F.col("bucket") < 90) & F.col("lang_ok")
                         & F.col("gopher_ok"))
            .select("doc_id", "text"))
    keepers = (_hybrid(surv)
               .select(F.col("keep_doc_id").alias("doc_id"),
                       F.lit(True).alias("_keeper")))
    # 8-gram decontamination: eval grams from the holdout slice,
    # keeper grams checked against the broadcast eval set
    gram_col = F.explode(F.expr(
        "CASE WHEN size(_w) >= 8 THEN "
        "transform(sequence(1, size(_w) - 7), "
        "i -> md5(array_join(slice(_w, i, 8), ' '))) "
        "ELSE array() END")).alias("gh")
    holdout = (stage.filter(F.col("bucket") >= 90)
               .select(F.split("text", " ").alias("_w")))
    g_eval = holdout.select(gram_col).distinct()
    keep_docs = (stage.join(keepers, "doc_id", "left_semi")
                 .select("doc_id", F.split("text", " ").alias("_w")))
    contam = (keep_docs.select("doc_id", gram_col)
              .join(F.broadcast(g_eval), "gh")
              .select("doc_id").distinct()
              .withColumn("_contam", F.lit(True)))
    verdict = (F.when(F.col("bucket") >= 90, "eval_holdout")
                .when(~F.col("lang_ok"), "lang")
                .when(~F.col("gopher_ok"), "gopher")
                .when(F.col("_keeper").isNull(), "near_dup")
                .when(F.col("_contam").isNotNull(), "contaminated")
                .otherwise("kept"))
    return (stage
            .join(keepers, "doc_id", "left")
            .join(contam, "doc_id", "left")
            .select("doc_id", verdict.alias("drop_reason"),
                    (verdict == F.lit("kept")).alias("keep")))


@query("streaming_dedup_groups", _HYBRID_ORACLE)
def streaming_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained verified dedup groups end-to-end
    (streaming/dedup_state.py): the corpus arrives in three ingest
    batches; each batch probes the persistent LSH index, exact-verifies
    its candidate pairs, and INCREMENTALLY merges the affected
    components in the keep-list state (partition-pruned member reads,
    exactly-once commit tiers). The oracle is the full-corpus batch
    hybrid (`hybrid_dedup_keep`'s SQL) — the streaming split must
    reproduce its keep-list exactly, whatever the batch boundaries
    (parity + crash-replay additionally pytest-proven in
    tests/test_r7_dedup_state.py)."""
    import shutil
    import tempfile
    from .streaming.dedup_state import StreamingDedupGroups

    s = _spark(spark)
    docs = _spread(read_table(s, sf_dir, "documents")
                   .select("doc_id", "text"), s)
    work = tempfile.mkdtemp(prefix="sparkcdc_dedupstate_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "32")
    try:
        st = StreamingDedupGroups(f"{work}/state", num_buckets=16)
        for b in range(3):
            st.process_batch(s, docs.filter(F.col("doc_id") % 3 == b),
                             corpus=docs, batch_id=b)
        # pin before the state dir is removed below
        return st.read_groups(s).localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


def _stage_docs_as_event_waves(spark: SparkSession, docs: DataFrame,
                               root: str, n_waves: int,
                               event_type_col=None) -> str:
    """Write a (doc_id, text) frame as CDC INSERT events in
    ``n_waves`` parquet files (one per wave — doc_id mod n_waves) and
    return the flat source directory a bounded_sync can drain with
    ``maxFilesPerTrigger=1``. Shared by the ``dedup_groups_cdc_sync``
    oracle query and ``bench.bench_dedup_groups_sync`` so the bench
    prices exactly the pipeline the query pins. ``event_type_col``
    overrides the constant event type — the composite-PK query uses
    it to carry the second key component."""
    import glob
    import os
    import shutil
    import time

    ev = (docs.select(
              F.col("doc_id").alias("event_id"),
              (F.col("doc_id") * 1_000_000).alias("ts"),
              F.col("doc_id").alias("user_id"),
              (event_type_col if event_type_col is not None
               else F.lit("signup")).alias("event_type"),
              F.lit(0.0).alias("value"),
              F.col("text").alias("props"),
              F.pmod("doc_id", F.lit(int(n_waves))).alias("w"))
          .repartition(F.col("w")))          # one file per wave
    ev.write.partitionBy("w").mode("overwrite").parquet(f"{root}/src")
    flat = f"{root}/flat"
    os.makedirs(flat)
    n = 0
    base = int(time.time()) - 3600
    for w in range(n_waves):
        for f in sorted(glob.glob(f"{root}/src/w={w}/*.parquet")):
            dst = os.path.join(flat, f"p{n}.parquet")
            shutil.copy(f, dst)
            # FileStreamSource orders by modification time; same-second
            # copies tie and the drain order becomes arbitrary — force
            # the wave order with strictly ascending mtimes (epoch
            # composition must be deterministic: the dedup-groups tier
            # sequence and the ANN sync's first-epoch centroid rule
            # both key off which wave arrives first)
            os.utime(dst, (base + n, base + n))
            n += 1
    return flat


@query("dedup_groups_cdc_sync", _HYBRID_ORACLE)
def dedup_groups_cdc_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC fleet × LLM dedup surface end-to-end (round 8, VERDICT r7
    #5): the documents corpus arrives as CDC INSERT events through the
    reference's bounded-sync envelope (streaming/bounded.py);
    ``bounded_sync`` drains the file waves under AvailableNow,
    maintaining the MergeCompactor table state AND the verified
    near-dup group side state (`_maintain_dedup_groups`) in the same
    foreachBatch. The oracle is the batch hybrid keep-list over the
    full corpus — for an insert-only table the side state must equal
    batch ``hybrid_dedup_keep`` of the table's current state exactly
    (update/tombstone purge semantics additionally pytest-proven in
    tests/test_r8_fleet_dedup_groups.py)."""
    import shutil
    import tempfile
    from .streaming.bounded import BoundedStreamConfig, bounded_sync
    from .streaming.dedup_state import StreamingDedupGroups

    s = _spark(spark)
    docs = read_table(s, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="sparkcdc_dgsync_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "32")
    try:
        flat = _stage_docs_as_event_waves(s, docs, work, 2)
        cfg = BoundedStreamConfig(
            mode="DEDUPE", primary_keys=["user_id"],
            max_files_per_trigger=1, max_wait_s=5.0,
            dedup_groups_path=f"{work}/groups",
            dedup_groups_buckets=16)
        bounded_sync(s, flat, f"{work}/state", f"{work}/ckpt", cfg)
        st = StreamingDedupGroups(f"{work}/groups", num_buckets=16)
        return st.read_groups(s).localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


# the hybrid keep-list oracle over a COMPOSITE-keyed corpus: the
# documents table re-keyed by concat(doc_id, US, 'k', doc_id % 3) —
# the exact string the keyed envelope builds from a two-column PK.
# String MIN / ORDER BY / '<' agree between Spark (UTF8 binary order)
# and DuckDB for these ASCII keys, so the whole pipeline is
# type-transparent.
_HYBRID_COMPOSITE_ORACLE = _HYBRID_ORACLE.replace(
    "FROM documents", "FROM docs2").replace(
    "WITH RECURSIVE toks AS",
    "WITH RECURSIVE docs2 AS (\n"
    "  SELECT concat(CAST(doc_id AS VARCHAR), chr(31), 'k',\n"
    "                CAST(doc_id % 3 AS VARCHAR)) AS doc_id, text\n"
    "  FROM documents),\ntoks AS")


@query("dedup_groups_composite_sync", _HYBRID_COMPOSITE_ORACLE)
def dedup_groups_composite_sync(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Composite-PK CDC sync × dedup groups (round 9, VERDICT r8 #5):
    the documents corpus arrives as CDC INSERT events on a TABLE WITH A
    TWO-COLUMN PRIMARY KEY — (user_id, event_type), the second
    component synthesized as 'k'||(doc_id%3) — and the keyed envelope
    concatenates the PK columns (unit separator) into ONE string doc
    key for the side groups state, which runs string-keyed
    (hash-partitioned, pinned in its meta). The oracle is the batch
    hybrid keep-list over the same composite-keyed corpus: the groups
    state must reproduce it exactly, component ids and keepers being
    the composite key strings."""
    import shutil
    import tempfile
    from .streaming.bounded import BoundedStreamConfig, bounded_sync
    from .streaming.dedup_state import StreamingDedupGroups

    s = _spark(spark)
    docs = read_table(s, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="sparkcdc_dgcomp_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "32")
    try:
        et = F.concat(F.lit("k"),
                      F.pmod("doc_id", F.lit(3)).cast("string"))
        flat = _stage_docs_as_event_waves(s, docs, work, 2,
                                          event_type_col=et)
        cfg = BoundedStreamConfig(
            mode="DEDUPE", primary_keys=["user_id", "event_type"],
            dedup_doc_id_col=["user_id", "event_type"],
            max_files_per_trigger=1, max_wait_s=5.0,
            dedup_groups_path=f"{work}/groups",
            dedup_groups_buckets=16)
        bounded_sync(s, flat, f"{work}/state", f"{work}/ckpt", cfg)
        st = StreamingDedupGroups(f"{work}/groups", num_buckets=16)
        return st.read_groups(s).localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


@query("curation_funnel_counts", """
WITH verdicts AS ({curation})
SELECT drop_reason, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM verdicts GROUP BY drop_reason
""".format(curation=_CURATION_ORACLE.strip()))
def curation_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ops dashboard number: documents lost at each stage of
    the curation cascade (`curation_pipeline_keep`), one row per drop
    reason — the funnel every corpus effort publishes (e.g. RefinedWeb
    fig. 2's 'data removed at each stage'). Pure aggregation over the
    per-doc verdicts; the stage semantics are pinned by the pipeline's
    own oracle."""
    return (QUERIES["curation_pipeline_keep"](spark, sf_dir)
            .groupBy("drop_reason")
            .agg(F.count(F.lit(1)).alias("n_docs")))


# ---------------------------------------------------------------------------
# Round-10 continuation: filtered vector search + hard-negative mining —
# the two embedding-side operators a retrieval/training pipeline still
# needs beyond plain ANN (beyond-reference; the reference has no vector
# surface).

@query("embedding_filtered_ann", """
WITH v AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
cent AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < 4),
cd AS (SELECT vec_id, label, e, cent_id,
              list_sum(list_transform(range(1, 65),
                       i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
       FROM v, cent
       WHERE vec_id >= 8 AND label % 3 = 0),
assign AS (SELECT vec_id, label, e, cent_id FROM cd
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) = 1),
c AS (SELECT vec_id AS cid, label, e AS ce, cent_id AS cc,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS cn
      FROM assign),
qd AS (SELECT vec_id, e, cent_id,
              list_sum(list_transform(range(1, 65),
                       i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
       FROM v, cent WHERE vec_id IN (5, 6, 7)),
q AS (SELECT vec_id AS qid, e AS qe, cent_id AS qc,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
      FROM qd
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY dist, cent_id) <= 2),
s AS (SELECT qid, cid, label,
             round(list_sum(list_transform(range(1, 65),
                   i -> qe[i] * ce[i])) / (qn * cn), 6) AS sim
      FROM q JOIN c ON qc = cc)
SELECT qid, cid, label, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 5
""")
def embedding_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search (the RAG shape: "nearest docs
    WHERE tenant/lang/license matches"): IVF cells + a label predicate,
    probing nprobe=2 cells per query because filtering thins every cell
    — the standard recall compensation for filtered IVF search.

    Scale design: the label predicate is applied BEFORE quantization,
    so it pushes into the parquet scan (`PushedFilters`) and only
    matching rows are ever assigned/scored — filter-then-search, never
    search-then-filter (post-filtering top-k under a selective
    predicate returns < k rows and re-probes). Probes broadcast; the
    candidate↔probe join hits only the probed cells' partitions. The
    brute-force twin is `embedding_topk`; centroids are vecs 0..3 (the
    `embedding_ivf_ann` convention)."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("e"))
    cent = (emb.filter(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("cent_id"),
                       F.col("e").alias("ce")))
    sqdist = F.aggregate(
        F.zip_with("e", "ce", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, x: a + x)
    norm = F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    # candidates: predicate FIRST (scan-pruned), then cell assignment
    cand = (emb.filter((F.col("vec_id") >= 8) & (F.col("label") % 3 == 0))
               .crossJoin(F.broadcast(cent)).withColumn("dist", sqdist))
    w_assign = Window.partitionBy("vec_id").orderBy("dist", "cent_id")
    c = (cand.withColumn("rn", F.row_number().over(w_assign))
             .filter(F.col("rn") == 1)
             .select(F.col("vec_id").alias("cid"), "label",
                     F.col("e").alias("ce"),
                     F.col("cent_id").alias("cc"), norm.alias("cn")))
    # probes: nprobe=2 nearest cells each
    q = (emb.filter(F.col("vec_id").isin([5, 6, 7]))
            .crossJoin(F.broadcast(cent)).withColumn("dist", sqdist)
            .withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") <= 2)
            .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                    F.col("cent_id").alias("qc"), norm.alias("qn")))
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    pairs = (c.join(F.broadcast(q), F.col("qc") == F.col("cc"))
              .select("qid", "cid", "label",
                      F.round(dot / (F.col("qn") * F.col("cn")), 6)
                       .alias("sim")))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= 5).drop("rn"))


@query("contrastive_hard_negatives", """
WITH v AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
q AS (SELECT vec_id AS qid, label AS qlabel, e AS qe, nrm AS qn
      FROM n WHERE vec_id < 8),
c AS (SELECT vec_id AS cid, label AS neg_label, e AS ce, nrm AS cn
      FROM n WHERE vec_id >= 8),
s AS (SELECT qid, cid, neg_label,
             round(list_sum(list_transform(range(1, 65),
                   i -> qe[i] * ce[i])) / (qn * cn), 6) AS sim
      FROM q JOIN c ON qlabel <> neg_label)
SELECT qid, cid, neg_label, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 5
""")
def contrastive_hard_negatives(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each anchor, the top-k most-similar vectors with a DIFFERENT label
    — the negatives that actually move a contrastive loss (random
    negatives are trivially separable; the hard ones sit just across
    the decision boundary).

    Scale design: the anchor set broadcasts (mining runs per
    anchor-shard against the full corpus — the `embedding_topk`
    pattern) and the label inequality rides the broadcast join
    condition, so same-label pairs are dropped BEFORE any dot product
    is computed. At corpus scale the exact scoring kernel swaps for the
    IVF/PQ index path (`embedding_ivf_ann` / `embedding_pq_ann_recall`)
    with the label filter applied cell-side, as in
    `embedding_filtered_ann`."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("e"))
    norm = F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    n = emb.withColumn("nrm", norm)
    q = (n.filter(F.col("vec_id") < 8)
          .select(F.col("vec_id").alias("qid"),
                  F.col("label").alias("qlabel"),
                  F.col("e").alias("qe"), F.col("nrm").alias("qn")))
    c = (n.filter(F.col("vec_id") >= 8)
          .select(F.col("vec_id").alias("cid"),
                  F.col("label").alias("neg_label"),
                  F.col("e").alias("ce"), F.col("nrm").alias("cn")))
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    pairs = (c.join(F.broadcast(q), F.col("qlabel") != F.col("neg_label"))
              .select("qid", "cid", "neg_label",
                      F.round(dot / (F.col("qn") * F.col("cn")), 6)
                       .alias("sim")))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= 5).drop("rn"))


@query("ann_index_forget_probe", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
cent AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < 8),
d AS (SELECT vec_id, e, cent_id,
             list_sum(list_transform(range(1, 65),
                      i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
      FROM v, cent),
assign AS (SELECT vec_id, e, cent_id FROM d
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) = 1),
n AS (SELECT vec_id, e, cent_id,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM assign
      WHERE vec_id NOT BETWEEN 10 AND 19),
qcells AS (SELECT vec_id AS qid, cent_id FROM d
           WHERE vec_id IN (5, 6, 7)
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) <= 2),
q AS (SELECT vec_id AS qid, e AS qe,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
      FROM v WHERE vec_id IN (5, 6, 7)),
s AS (SELECT qc.qid, n.vec_id AS cid,
             round(list_sum(list_transform(range(1, 65),
                            i -> q.qe[i] * n.e[i])) / (q.qn * n.nrm), 6)
               AS sim
      FROM qcells qc JOIN n ON n.cent_id = qc.cent_id
                     JOIN q ON q.qid = qc.qid
      WHERE n.vec_id <> qc.qid)
SELECT qid, cid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 5
""")
def ann_index_forget_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure ON THE SERVING VECTOR INDEX (the lifecycle piece
    `ann_index_probe` lacks): build the persistent IVF file, purge
    vectors 10-19 (`IvfVectorIndex.purge_vectors` — victim cells
    resolved from the `_vecmap` sidecar, only those cell dirs
    rewritten), then probe. The oracle replays the full pipeline with
    the victims excluded from the candidate set — physically erased
    rows can never surface as neighbors, and survivors' results are
    untouched."""
    import shutil
    import tempfile
    from .operators.llm.annindex import IvfVectorIndex

    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    work = tempfile.mkdtemp(prefix="sparkcdc_ivf_forget_")
    try:
        idx = IvfVectorIndex(index_path=f"{work}/index", n_cells=8)
        idx.build(s, emb)
        idx.purge_vectors(s, list(range(10, 20)))
        probes = (emb.filter(F.col("vec_id").isin([5, 6, 7]))
                     .select(F.col("vec_id").alias("qid"),
                             F.col("e").alias("qe")))
        out = idx.probe(s, probes, k=5, nprobe=2)
        # pin before the tempdir vanishes
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("cdc_ann_index_sync", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
cent AS (SELECT vec_id AS cent_id, e AS ce FROM v
         WHERE vec_id % 2 = 0
         QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 4),
d AS (SELECT vec_id, e, cent_id,
             list_sum(list_transform(range(1, 65),
                      i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
      FROM v, cent),
assign AS (SELECT vec_id, e, cent_id FROM d
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) = 1),
n AS (SELECT vec_id, e, cent_id,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM assign),
qcells AS (SELECT vec_id AS qid, cent_id FROM d
           WHERE vec_id IN (5, 6, 7)
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) <= 2),
q AS (SELECT vec_id AS qid, e AS qe,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
      FROM v WHERE vec_id IN (5, 6, 7)),
s AS (SELECT qc.qid, n.vec_id AS cid,
             round(list_sum(list_transform(range(1, 65),
                            i -> q.qe[i] * n.e[i])) / (q.qn * n.nrm), 6)
               AS sim
      FROM qcells qc JOIN n ON n.cent_id = qc.cent_id
                     JOIN q ON q.qid = qc.qid
      WHERE n.vec_id <> qc.qid)
SELECT qid, cid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 5
""")
def cdc_ann_index_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC sync feeding the vector-serving path end-to-end: the
    embeddings table arrives as CDC INSERT events (vectors riding the
    envelope as JSON array strings in `props` — the wire shape), and
    `bounded_sync` maintains an `IvfVectorIndex` beside the compacted
    state (`_maintain_ann_index`: epoch-marker exactly-once,
    purge-then-add per batch, first-epoch build with seed centroids =
    the 4 smallest-id vectors of wave one — the even ids under the
    2-wave staging). The oracle replays the whole pipeline: IVF
    assignment under those centroids over the table's current state,
    nprobe=2 probes, top-5 cosine. Update/tombstone purge semantics
    and crash/replay convergence are additionally pytest-pinned
    (tests/test_r10_cdc_ann.py)."""
    import shutil
    import tempfile
    from .operators.llm.annindex import IvfVectorIndex
    from .streaming.bounded import BoundedStreamConfig, bounded_sync

    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    work = tempfile.mkdtemp(prefix="sparkcdc_annsync_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "32")
    try:
        docs_like = emb.select(F.col("vec_id").alias("doc_id"),
                               F.to_json(F.col("e")).alias("text"))
        flat = _stage_docs_as_event_waves(s, docs_like, work, 2)
        cfg = BoundedStreamConfig(
            mode="DEDUPE", primary_keys=["user_id"],
            max_files_per_trigger=1, max_wait_s=5.0,
            ann_index_path=f"{work}/ann", ann_index_cells=4)
        bounded_sync(s, flat, f"{work}/state", f"{work}/ckpt", cfg)
        idx = IvfVectorIndex(f"{work}/ann", n_cells=4)
        probes = (emb.filter(F.col("vec_id").isin([5, 6, 7]))
                     .select(F.col("vec_id").alias("qid"),
                             F.col("e").alias("qe")))
        out = idx.probe(s, probes, k=5, nprobe=2)
        # pin before the tempdir vanishes
        return out.localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


@query("semantic_groups_stream", """
WITH RECURSIVE v AS (SELECT vec_id,
                            list_transform(embedding,
                                           x -> CAST(x AS DOUBLE)) AS e
                     FROM embeddings),
cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ck, e AS ce
         FROM v WHERE vec_id % 2 = 0
         QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 4),
d AS (SELECT vec_id, e, ck,
             list_sum(list_transform(range(1, 65),
                      i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
      FROM v, cent),
assign AS (SELECT vec_id, e, ck FROM d
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, ck) = 1),
n AS (SELECT vec_id, e, ck,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM assign),
p AS (SELECT a.vec_id AS s, b.vec_id AS t
      FROM n a JOIN n b ON a.ck = b.ck AND a.vec_id < b.vec_id
      WHERE round(list_sum(list_transform(range(1, 65),
                  i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) >= 0.4),
sym AS (SELECT s, t FROM p UNION SELECT t, s FROM p),
reach AS (SELECT s AS nn, t AS m FROM sym
          UNION
          SELECT r.nn, e2.t FROM reach r JOIN sym e2 ON r.m = e2.s),
lbl AS (SELECT nn, m FROM reach
        UNION ALL SELECT vec_id, vec_id FROM v),
comp AS (SELECT nn AS vec_id, MIN(m) AS component FROM lbl GROUP BY nn)
SELECT component, component AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM comp GROUP BY component
""")
def semantic_groups_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SemDeDup (round-10 continuation): the embeddings
    corpus arrives in two batches (evens then odds) and
    `StreamingSemanticGroups` maintains cosine near-dup components
    incrementally — IVF cell assignment under the FIRST batch's seed
    codebook (4 smallest even ids), same-cell round(cos,6) ≥ 0.4 pairs
    against (indexed ∪ batch), `merge_pairs` component merge. The
    union of per-batch pair sets is EXACTLY the all-pairs same-cell
    set (evens×evens from batch one, odds×all from batch two), so the
    oracle replays the whole pipeline batch-free: fixed-codebook
    assignment → same-cell threshold pairs → recursive closure →
    min-id keepers (keeper == component, since every member carries
    n_tokens=1 through the groups state)."""
    import shutil
    import tempfile
    from .streaming.semantic_state import StreamingSemanticGroups

    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    work = tempfile.mkdtemp(prefix="sparkcdc_semstream_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "32")
    try:
        st = StreamingSemanticGroups(f"{work}/st", n_cells=4,
                                     threshold=0.4, num_buckets=16)
        st.process_batch(s, emb.filter("vec_id % 2 = 0"), batch_id=0)
        st.process_batch(s, emb.filter("vec_id % 2 = 1"), batch_id=1)
        return st.read_groups(s).localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round 11: record linkage, quantized/truncated ANN ladder, bitext mining

@query("entity_match_customers", """
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
""")
def entity_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (entity resolution) under its
    oracle pin: candidate pairs only within the (nation, market
    segment) blocking key, scored with edit distance — the
    `operators/llm/linkage.blocked_link` operator with
    ``max_block_size=None`` so DuckDB replays the exact pair set.
    Direct users get the hot-block hash-split guard (real blocking
    keys are skewed; one default-segment block must not reintroduce
    the |block|² term the blocking exists to remove — the knn_join
    ``max_cell_size`` discipline, pinned in
    tests/test_r11_advice.py)."""
    from .operators.llm.linkage import blocked_link
    c = read_table(_spark(spark), sf_dir, "customer")
    return (blocked_link(c, ["c_nationkey", "c_mktsegment"],
                         "c_custkey", "c_name", max_dist=2,
                         max_block_size=None)
            .select(F.col("id_a").alias("cust_a"),
                    F.col("id_b").alias("cust_b"),
                    F.col("dist").alias("name_dist")))


@query("embedding_binary_ann", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v),
qp AS (SELECT vec_id AS qid, e AS qe, nrm AS a_n FROM n WHERE vec_id < 5),
cp AS (SELECT vec_id AS cid, e AS ce, nrm AS b_n FROM n WHERE vec_id >= 5),
sc AS (SELECT qid, cid,
              list_sum(list_transform(range(1, 65),
                   i -> CASE WHEN (qe[i] >= 0) <> (ce[i] >= 0)
                             THEN 1 ELSE 0 END)) AS hamming,
              round(list_sum(list_transform(range(1, 65),
                    i -> qe[i] * ce[i])) / (a_n * b_n), 6) AS sim
       FROM qp, cp),
r AS (SELECT qid, cid,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY hamming, cid) AS rq,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY sim DESC, cid) AS rx
      FROM sc)
SELECT qid,
       CAST(SUM(CASE WHEN rq <= 10 AND rx <= 10 THEN 1 ELSE 0 END)
            AS DOUBLE) / 10.0 AS recall_at_10
FROM r GROUP BY qid
""")
def embedding_binary_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit sign) quantization for similarity search — the
    32× memory cut under int8's 4× in the quantization ladder
    (int8 → PQ → binary): candidates rank by Hamming distance between
    sign patterns, an exact integer sum with zero float hazard, and
    quality is reported as recall@10 against the exact-cosine top-k
    (the embedding_int8_ann_recall convention — both rankings from ONE
    scored pass, windows sharing the qid partitioning). At 100 TB the
    sign pattern is 8 bytes/vector: the rerank-from-binary pattern
    keeps the full-precision vectors out of the hot scan entirely."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    emb = emb.withColumn(
        "nrm", F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                                  F.lit(0.0), lambda a, x: a + x)))
    qp = (emb.filter(F.col("vec_id") < 5)
             .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                     F.col("nrm").alias("a_n")))
    cp = (emb.filter(F.col("vec_id") >= 5)
             .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                     F.col("nrm").alias("b_n")))
    ham = F.aggregate(
        F.zip_with("qe", "ce",
                   lambda x, y: F.when((x >= 0) != (y >= 0), F.lit(1))
                                 .otherwise(F.lit(0)).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    edot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                       F.lit(0.0), lambda a, x: a + x)
    scored = (cp.crossJoin(F.broadcast(qp))
                .select("qid", "cid", ham.alias("hamming"),
                        F.round(edot / (F.col("a_n") * F.col("b_n")), 6)
                         .alias("sim")))
    wq = Window.partitionBy("qid").orderBy("hamming", "cid")
    wx = Window.partitionBy("qid").orderBy(F.col("sim").desc(),
                                           F.col("cid"))
    ranked = (scored.withColumn("rq", F.row_number().over(wq))
                    .withColumn("rx", F.row_number().over(wx)))
    both = F.when((F.col("rq") <= 10) & (F.col("rx") <= 10), 1).otherwise(0)
    return (ranked.groupBy("qid")
                  .agg((F.sum(both).cast("double") / F.lit(10.0))
                       .alias("recall_at_10")))


@query("embedding_matryoshka_recall", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
             sqrt(list_sum(list_transform(range(1, 17),
                           i -> e[i] * e[i]))) AS nrm16
      FROM v),
qp AS (SELECT vec_id AS qid, e AS qe, nrm AS a_n, nrm16 AS a_m
       FROM n WHERE vec_id < 5),
cp AS (SELECT vec_id AS cid, e AS ce, nrm AS b_n, nrm16 AS b_m
       FROM n WHERE vec_id >= 5),
sc AS (SELECT qid, cid,
              round(list_sum(list_transform(range(1, 17),
                    i -> qe[i] * ce[i])) / (a_m * b_m), 6) AS sim16,
              round(list_sum(list_transform(range(1, 65),
                    i -> qe[i] * ce[i])) / (a_n * b_n), 6) AS sim
       FROM qp, cp),
r AS (SELECT qid, cid,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY sim16 DESC, cid) AS rq,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY sim DESC, cid) AS rx
      FROM sc)
SELECT qid,
       CAST(SUM(CASE WHEN rq <= 10 AND rx <= 10 THEN 1 ELSE 0 END)
            AS DOUBLE) / 10.0 AS recall_at_10
FROM r GROUP BY qid
""")
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension retrieval: rank on the FIRST
    16 of 64 dimensions (MRL-style prefix embeddings), report
    recall@10 against the full-dimension exact ranking. This is the
    dimension-truncation axis of the cheap-prefilter ladder —
    orthogonal to value quantization (int8/binary): a 100 TB corpus
    scans a 4×-narrower column for candidates and reranks only the
    shortlist at full width. Both cosines fold sequentially over
    dimensions (the shared IEEE-order contract), both rankings come
    from one scored pass with windows sharing the qid partitioning."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    emb = (emb
           .withColumn("nrm", F.sqrt(F.aggregate(
               F.transform("e", lambda x: x * x),
               F.lit(0.0), lambda a, x: a + x)))
           .withColumn("e16", F.slice("e", 1, 16))
           .withColumn("nrm16", F.sqrt(F.aggregate(
               F.transform("e16", lambda x: x * x),
               F.lit(0.0), lambda a, x: a + x))))
    qp = (emb.filter(F.col("vec_id") < 5)
             .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                     F.col("e16").alias("qe16"),
                     F.col("nrm").alias("a_n"), F.col("nrm16").alias("a_m")))
    cp = (emb.filter(F.col("vec_id") >= 5)
             .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                     F.col("e16").alias("ce16"),
                     F.col("nrm").alias("b_n"), F.col("nrm16").alias("b_m")))
    dot16 = F.aggregate(F.zip_with("qe16", "ce16", lambda x, y: x * y),
                        F.lit(0.0), lambda a, x: a + x)
    edot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                       F.lit(0.0), lambda a, x: a + x)
    scored = (cp.crossJoin(F.broadcast(qp))
                .select("qid", "cid",
                        F.round(dot16 / (F.col("a_m") * F.col("b_m")), 6)
                         .alias("sim16"),
                        F.round(edot / (F.col("a_n") * F.col("b_n")), 6)
                         .alias("sim")))
    wq = Window.partitionBy("qid").orderBy(F.col("sim16").desc(),
                                           F.col("cid"))
    wx = Window.partitionBy("qid").orderBy(F.col("sim").desc(),
                                           F.col("cid"))
    ranked = (scored.withColumn("rq", F.row_number().over(wq))
                    .withColumn("rx", F.row_number().over(wx)))
    both = F.when((F.col("rq") <= 10) & (F.col("rx") <= 10), 1).otherwise(0)
    return (ranked.groupBy("qid")
                  .agg((F.sum(both).cast("double") / F.lit(10.0))
                       .alias("recall_at_10")))


@query("bitext_mine_margin", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings WHERE vec_id < 1000),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v),
sp AS (SELECT vec_id AS src_id, e AS se, nrm AS a_n FROM n
       WHERE vec_id % 2 = 0),
tp AS (SELECT vec_id AS tgt_id, e AS te, nrm AS b_n FROM n
       WHERE vec_id % 2 = 1),
sc AS (SELECT src_id, tgt_id,
              CAST(floor(round(list_sum(list_transform(range(1, 65),
                        i -> se[i] * te[i])) / (a_n * b_n), 6)
                    * 1000000 + 0.5) AS BIGINT) AS ci
       FROM sp, tp),
rf AS (SELECT src_id, tgt_id, ci,
              ROW_NUMBER() OVER (PARTITION BY src_id
                  ORDER BY ci DESC, tgt_id) AS kf,
              ROW_NUMBER() OVER (PARTITION BY tgt_id
                  ORDER BY ci DESC, src_id) AS kb
       FROM sc),
fa AS (SELECT src_id, SUM(ci) AS fsum FROM rf WHERE kf <= 4
       GROUP BY src_id),
ba AS (SELECT tgt_id, SUM(ci) AS bsum FROM rf WHERE kb <= 4
       GROUP BY tgt_id),
mg AS (SELECT r.src_id, r.tgt_id,
              round(8.0 * r.ci / (fa.fsum + ba.bsum), 6) AS margin
       FROM rf r JOIN fa ON r.src_id = fa.src_id
                 JOIN ba ON r.tgt_id = ba.tgt_id
       WHERE fa.fsum + ba.bsum <> 0)
SELECT src_id, tgt_id, margin FROM mg
WHERE margin > 1.0
QUALIFY ROW_NUMBER() OVER (PARTITION BY src_id
    ORDER BY margin DESC, tgt_id) = 1
""")
def bitext_mine_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (the CCMatrix/LASER ratio margin):
    a candidate pair's raw cosine is normalized by the mean of the two
    sides' average top-k similarities, so hub vectors that are close
    to EVERYTHING stop dominating — margin(x, y) = cos(x, y) /
    ((avg_topk(x, ·) + avg_topk(·, y)) / 2), keep each source's best
    target where margin > 1. Even vec_ids play source, odd play
    target. All ranking math runs in the exact-integer domain:
    cosines round to 6dp and scale to int64, top-4 sums are exact, and
    the single margin division happens once on exact integers — so
    the margin replays bit-for-bit in any engine (the int8-ANN
    discipline). At 100 TB both direction averages come from the same
    scored pass (two windows over one join), and the scored pass
    itself would ride the IVF/PQ candidate index rather than the
    brute-force join this oracle-scale query uses."""
    s = _spark(spark)
    emb = (read_table(s, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 1000)
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("e")))
    emb = emb.withColumn(
        "nrm", F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                                  F.lit(0.0), lambda a, x: a + x)))
    sp = (emb.filter(F.col("vec_id") % 2 == 0)
             .select(F.col("vec_id").alias("src_id"),
                     F.col("e").alias("se"), F.col("nrm").alias("a_n")))
    tp = (emb.filter(F.col("vec_id") % 2 == 1)
             .select(F.col("vec_id").alias("tgt_id"),
                     F.col("e").alias("te"), F.col("nrm").alias("b_n")))
    dot = F.aggregate(F.zip_with("se", "te", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    ci = F.floor(F.round(dot / (F.col("a_n") * F.col("b_n")), 6)
                 * F.lit(1_000_000) + F.lit(0.5)).cast("long")
    scored = (tp.crossJoin(F.broadcast(sp))
                .select("src_id", "tgt_id", ci.alias("ci")))
    wf = Window.partitionBy("src_id").orderBy(F.col("ci").desc(),
                                              F.col("tgt_id"))
    wb = Window.partitionBy("tgt_id").orderBy(F.col("ci").desc(),
                                              F.col("src_id"))
    ranked = (scored.withColumn("kf", F.row_number().over(wf))
                    .withColumn("kb", F.row_number().over(wb)))
    ranked.persist()
    try:
        fa = (ranked.filter(F.col("kf") <= 4)
              .groupBy("src_id").agg(F.sum("ci").alias("fsum")))
        ba = (ranked.filter(F.col("kb") <= 4)
              .groupBy("tgt_id").agg(F.sum("ci").alias("bsum")))
        denom = F.col("fsum") + F.col("bsum")
        mg = (ranked
              .join(F.broadcast(fa), "src_id")
              .join(F.broadcast(ba), "tgt_id")
              .filter(denom != 0)
              .select("src_id", "tgt_id",
                      F.round(F.lit(8.0) * F.col("ci") / denom, 6)
                       .alias("margin")))
        wbest = Window.partitionBy("src_id").orderBy(
            F.col("margin").desc(), F.col("tgt_id"))
        out = (mg.filter(F.col("margin") > 1.0)
                 .withColumn("rn", F.row_number().over(wbest))
                 .filter(F.col("rn") == 1).drop("rn"))
        return out.localCheckpoint(eager=True)
    finally:
        ranked.unpersist()


@query("ann_index_retrain_probe", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
              e AS ce
       FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 4),
d1 AS (SELECT v.vec_id, v.e, c.cid,
              list_sum(list_transform(range(1, 65),
                       i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS d2
       FROM v, c0 c),
a1 AS (SELECT vec_id, e, cid FROM d1
       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
m1 AS (SELECT cid, i,
              CAST(SUM(CAST(e[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       FROM a1, range(1, 65) t(i) GROUP BY cid, i),
c1 AS (SELECT cid, list(m ORDER BY i) AS ce FROM m1 GROUP BY cid),
d2_ AS (SELECT v.vec_id, v.e, c.cid,
               list_sum(list_transform(range(1, 65),
                        i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))) AS d2
        FROM v, c1 c),
a2 AS (SELECT vec_id, e, cid FROM d2_
       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
m2 AS (SELECT cid, i,
              CAST(SUM(CAST(e[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       FROM a2, range(1, 65) t(i) GROUP BY cid, i),
c2 AS (SELECT cid, list(m ORDER BY i) AS ce FROM m2 GROUP BY cid),
a3 AS (SELECT vec_id, e, cid FROM (
           SELECT v.vec_id, v.e, c.cid,
                  list_sum(list_transform(range(1, 65),
                           i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])))
                      AS d2
           FROM v, c2 c)
       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1),
n AS (SELECT vec_id, e, cid,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM a3),
qcells AS (SELECT v.vec_id AS qid, c.cid
           FROM v, c2 c WHERE v.vec_id IN (5, 6, 7)
           QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY list_sum(list_transform(range(1, 65),
                        i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))),
                        c.cid) <= 2),
q AS (SELECT vec_id AS qid, e AS qe,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
      FROM v WHERE vec_id IN (5, 6, 7)),
s AS (SELECT qc.qid, n.vec_id AS cid,
             round(list_sum(list_transform(range(1, 65),
                            i -> q.qe[i] * n.e[i])) / (q.qn * n.nrm), 6)
               AS sim
      FROM qcells qc JOIN n ON n.cid = qc.cid
                     JOIN q ON q.qid = qc.qid
      WHERE n.vec_id <> qc.qid)
SELECT qid, cid, sim FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) <= 5
""")
def ann_index_retrain_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit retraining step of the serving lifecycle, oracled
    end-to-end: build the IVF index under the deterministic SEED
    codebook (the ingest-time contract — the codebook never moves on
    add_batch), then `rebuild()` retrains it with 2 Lloyd iterations
    (kmeans_fit, k=4 — the `_KMEANS_SQL` replay: a3/c2 are the same
    assignment and means `embedding_kmeans`/`knn_join_kmeans` pin) via
    the crash-safe sibling-then-swap rewrite, then probe. The oracle
    replays Lloyd → final assignment → nprobe=2 cell selection against
    the TRAINED means → top-5 cosine. Cell labels may differ between
    engines (positional vs cid) but cell MEMBERSHIP — the only thing
    the probe's output depends on — replays exactly."""
    import shutil
    import tempfile
    from .operators.llm.annindex import IvfVectorIndex

    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    work = tempfile.mkdtemp(prefix="sparkcdc_annrt_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "32")
    try:
        idx = IvfVectorIndex(f"{work}/ann", n_cells=4)
        idx.build(s, emb)                       # seed codebook
        idx.rebuild(s, n_cells=4, iters=2)      # Lloyd retrain + swap
        probes = (emb.filter(F.col("vec_id").isin([5, 6, 7]))
                     .select(F.col("vec_id").alias("qid"),
                             F.col("e").alias("qe")))
        out = idx.probe(s, probes, k=5, nprobe=2)
        return out.localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


@query("bm25_topk_docs", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
st AS (SELECT doc_id, len(w) AS dl,
              len(list_filter(w, x -> x = 'table')) AS tf1,
              len(list_filter(w, x -> x = 'query')) AS tf2,
              len(list_filter(w, x -> x = 'scan'))  AS tf3,
              len(list_filter(w, x -> x = 'merge')) AS tf4
       FROM t),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
             CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3,
             CAST(SUM(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df4
      FROM st),
s AS (SELECT doc_id,
             ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
               * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
               * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df3 + 0.5) / (df3 + 0.5) + 1.0)
               * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df4 + 0.5) / (df4 + 0.5) + 1.0)
               * (tf4 * 2.2) / (tf4 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               AS score
      FROM st, g)
SELECT doc_id, round(score, 6) AS bm25 FROM s
QUALIFY ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id) <= 15
""")
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Okapi, k1=1.2, b=0.75) — the lexical half of hybrid RAG
    retrieval, at corpus scale: term frequencies come from JVM array
    filters in ONE map-only pass (no explode shuffle for a fixed query
    term set), the corpus statistics (N, avgdl, per-term df) reduce to
    a single tiny aggregate row that broadcasts back, and the final
    score is a fixed-order arithmetic expression — term contributions
    are summed in WRITTEN order, never through an unordered SQL SUM,
    so the float result replays across engines (the
    quality_classifier_score discipline; `ln(...)` with round-6 is the
    tfidf_top_terms precedent). Global top-k compiles to
    TakeOrderedAndProject, never a total sort."""
    d = read_table(_spark(spark), sf_dir, "documents")
    w = F.split("text", " ")
    terms = ["table", "query", "scan", "merge"]
    def tf_col(term: str, name: str):
        # single-param lambda, factory-scoped closure: a two-param
        # lambda would make F.filter pass the ARRAY INDEX as the
        # second argument (its (element, index) form)
        return F.size(F.filter(w, lambda x: x == F.lit(term))).alias(name)

    st = d.select(
        "doc_id", F.size(w).alias("dl"),
        *[tf_col(t, f"tf{i+1}") for i, t in enumerate(terms)])
    g = st.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[F.sum(F.when(F.col(f"tf{i+1}") > 0, 1).otherwise(0))
           .cast("double").alias(f"df{i+1}")
          for i in range(len(terms))])
    j = st.crossJoin(F.broadcast(g))

    def part(i: int):
        tf = F.col(f"tf{i}")
        df = F.col(f"df{i}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        norm = tf + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        return idf * (tf * 2.2) / norm

    score = part(1) + part(2) + part(3) + part(4)
    ranked = j.select("doc_id", F.round(score, 6).alias("bm25"))
    w_top = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (ranked.withColumn("rn", F.row_number().over(w_top))
                  .filter(F.col("rn") <= 15).drop("rn"))


@query("rrf_hybrid_search", """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
n AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v),
qp AS (SELECT vec_id AS qid, e AS qe, nrm AS a_n FROM n WHERE vec_id < 5),
cp AS (SELECT vec_id AS cid, e AS ce, nrm AS b_n FROM n WHERE vec_id >= 5),
sc AS (SELECT qid, cid,
              list_sum(list_transform(range(1, 65),
                   i -> CASE WHEN (qe[i] >= 0) <> (ce[i] >= 0)
                             THEN 1 ELSE 0 END)) AS hamming,
              round(list_sum(list_transform(range(1, 65),
                    i -> qe[i] * ce[i])) / (a_n * b_n), 6) AS sim
       FROM qp, cp),
r AS (SELECT qid, cid,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY sim DESC, cid) AS rc,
             ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY hamming, cid) AS rh
      FROM sc)
SELECT qid, cid,
       round(1.0 / (60 + rc) + 1.0 / (60 + rh), 9) AS rrf
FROM r
QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
    ORDER BY 1.0 / (60 + rc) + 1.0 / (60 + rh) DESC, cid) <= 10
""")
def rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60, the Cormack/Clarke constant) of
    two retrieval systems — exact cosine and binary-sign Hamming —
    the standard hybrid-search combiner (lexical+vector in RAG
    stacks): fusion consumes only integer RANKS, so it is immune to
    the systems' score scales, and the fused score is a fixed-order
    sum of two exact-integer-derived divisions — bit-exact in any
    engine with no float-fold hazard. Both rankings come from ONE
    scored pass (two windows sharing the qid partitioning — the
    embedding_int8_ann_recall plan discipline); at 100 TB each system
    would feed its candidate top-k from its own index (IVF/PQ, binary
    sketch scan) and the fusion joins k-sized lists, never corpora."""
    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    emb = emb.withColumn(
        "nrm", F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                                  F.lit(0.0), lambda a, x: a + x)))
    qp = (emb.filter(F.col("vec_id") < 5)
             .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                     F.col("nrm").alias("a_n")))
    cp = (emb.filter(F.col("vec_id") >= 5)
             .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                     F.col("nrm").alias("b_n")))
    ham = F.aggregate(
        F.zip_with("qe", "ce",
                   lambda x, y: F.when((x >= 0) != (y >= 0), F.lit(1))
                                 .otherwise(F.lit(0)).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    edot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                       F.lit(0.0), lambda a, x: a + x)
    scored = (cp.crossJoin(F.broadcast(qp))
                .select("qid", "cid", ham.alias("hamming"),
                        F.round(edot / (F.col("a_n") * F.col("b_n")), 6)
                         .alias("sim")))
    wc = Window.partitionBy("qid").orderBy(F.col("sim").desc(),
                                           F.col("cid"))
    wh = Window.partitionBy("qid").orderBy("hamming", "cid")
    ranked = (scored.withColumn("rc", F.row_number().over(wc))
                    .withColumn("rh", F.row_number().over(wh)))
    fused = (F.lit(1.0) / (60 + F.col("rc"))
             + F.lit(1.0) / (60 + F.col("rh")))
    wbest = Window.partitionBy("qid").orderBy(fused.desc(), F.col("cid"))
    return (ranked.withColumn("rrf", F.round(fused, 9))
                  .withColumn("rn", F.row_number().over(wbest))
                  .filter(F.col("rn") <= 10)
                  .select("qid", "cid", "rrf"))


@query("cdc_semantic_groups_sync", """
WITH RECURSIVE v AS (SELECT vec_id,
                            list_transform(embedding,
                                           x -> CAST(x AS DOUBLE)) AS e
                     FROM embeddings),
cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ck, e AS ce
         FROM v WHERE vec_id % 2 = 0
         QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 4),
d AS (SELECT vec_id, e, ck,
             list_sum(list_transform(range(1, 65),
                      i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
      FROM v, cent),
assign AS (SELECT vec_id, e, ck FROM d
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, ck) = 1),
n AS (SELECT vec_id, e, ck,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM assign),
p AS (SELECT a.vec_id AS s, b.vec_id AS t
      FROM n a JOIN n b ON a.ck = b.ck AND a.vec_id < b.vec_id
      WHERE round(list_sum(list_transform(range(1, 65),
                  i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) >= 0.4),
sym AS (SELECT s, t FROM p UNION SELECT t, s FROM p),
reach AS (SELECT s AS nn, t AS m FROM sym
          UNION
          SELECT r.nn, e2.t FROM reach r JOIN sym e2 ON r.m = e2.s),
lbl AS (SELECT nn, m FROM reach
        UNION ALL SELECT vec_id, vec_id FROM v),
comp AS (SELECT nn AS vec_id, MIN(m) AS component FROM lbl GROUP BY nn)
SELECT component, component AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM comp GROUP BY component
""")
def cdc_semantic_groups_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic member of the CDC side-state triangle, end-to-end:
    the embeddings table arrives as CDC INSERT events (vectors as JSON
    array strings in `props` — the wire shape) and
    `bounded_sync(semantic_groups_path=...)` maintains cosine near-dup
    components per micro-batch (`_maintain_semantic_groups`: cdc3
    tiers — purge 3e for updates/tombstones, ingest 3e+1 — with the
    groups manifest as the exactly-once anchor; seed codebook = the 4
    smallest-id vectors of wave one, the evens under 2-wave staging).
    Insert-only workload here, so the oracle is exactly the
    `semantic_groups_stream` replay: fixed-codebook assignment →
    same-cell round(cos,6) ≥ 0.4 pairs → recursive closure → min-id
    keepers. Update/tombstone purge semantics and crash/replay
    convergence are pytest-pinned (tests/test_r11_semantic_sync.py)."""
    import shutil
    import tempfile
    from .streaming.bounded import BoundedStreamConfig, bounded_sync
    from .streaming.semantic_state import StreamingSemanticGroups

    s = _spark(spark)
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    work = tempfile.mkdtemp(prefix="sparkcdc_semsync_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    # 16, not the usual 32: foreachBatch jobs run with streaming AQE
    # OFF, so every tiny merge-stage shuffle pays the full fixed
    # partition count — at this state size the narrower width halves
    # task-scheduling overhead without touching any result
    s.conf.set(pkey, "16")
    try:
        docs_like = emb.select(F.col("vec_id").alias("doc_id"),
                               F.to_json(F.col("e")).alias("text"))
        flat = _stage_docs_as_event_waves(s, docs_like, work, 2)
        cfg = BoundedStreamConfig(
            mode="DEDUPE", primary_keys=["user_id"],
            max_files_per_trigger=1, max_wait_s=5.0,
            semantic_groups_path=f"{work}/sem", semantic_cells=4,
            semantic_threshold=0.4, semantic_buckets=8)
        bounded_sync(s, flat, f"{work}/state", f"{work}/ckpt", cfg)
        st = StreamingSemanticGroups(f"{work}/sem", n_cells=4,
                                     threshold=0.4, num_buckets=8)
        return st.read_groups(s).localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round 12: CDC-maintained inverted index for the lexical retrieval leg

@query("lexical_index_bm25_sync", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
st AS (SELECT doc_id, len(w) AS dl,
              len(list_filter(w, x -> x = 'table')) AS tf1,
              len(list_filter(w, x -> x = 'query')) AS tf2,
              len(list_filter(w, x -> x = 'scan'))  AS tf3,
              len(list_filter(w, x -> x = 'merge')) AS tf4
       FROM t),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
             CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3,
             CAST(SUM(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df4
      FROM st),
s AS (SELECT doc_id,
             ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
               * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
               * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df3 + 0.5) / (df3 + 0.5) + 1.0)
               * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df4 + 0.5) / (df4 + 0.5) + 1.0)
               * (tf4 * 2.2) / (tf4 + 1.2 * (0.25 + 0.75 * dl / avgdl))
               AS score
      FROM st, g
      WHERE tf1 + tf2 + tf3 + tf4 > 0)
SELECT doc_id, round(score, 6) AS bm25 FROM s
QUALIFY ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id) <= 15
""")
def lexical_index_bm25_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lexical serving stack end-to-end (VERDICT r11 #3): the
    documents table arrives as CDC INSERT events and
    ``bounded_sync(lexical_index_path=...)`` maintains a
    ``StreamingLexicalIndex`` — postings partitioned by term hash +
    doc-stats, ``_docterms`` erasure sidecar, exactly-once epoch
    markers — beside the compacted state. The probe then answers BM25
    (k1=1.2, b=0.75) for a fixed 4-term query from the INDEX: it opens
    only the query terms' postings partitions and folds per-term
    contributions in written order, so for this insert-only workload
    it must equal the scan-based ``bm25_topk_docs`` formulation
    restricted to docs matching ≥1 term (the serving contract: a
    zero-score doc is never retrieved) — which is exactly what the
    oracle computes from the raw table. Update/tombstone purge,
    crash/replay convergence, and compaction are pytest-pinned
    (tests/test_r12_lexical.py)."""
    import shutil
    import tempfile
    from .streaming.bounded import BoundedStreamConfig, bounded_sync
    from .streaming.lexical_state import StreamingLexicalIndex

    s = _spark(spark)
    docs = read_table(s, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="sparkcdc_lexsync_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    # foreachBatch jobs run with streaming AQE OFF — narrow fixed
    # width for the many small per-epoch stages (the semantic-sync
    # precedent)
    s.conf.set(pkey, "16")
    try:
        flat = _stage_docs_as_event_waves(s, docs, work, 2)
        cfg = BoundedStreamConfig(
            mode="DEDUPE", primary_keys=["user_id"],
            max_files_per_trigger=1, max_wait_s=5.0,
            lexical_index_path=f"{work}/lex", lexical_parts=16)
        bounded_sync(s, flat, f"{work}/state", f"{work}/ckpt", cfg)
        lex = StreamingLexicalIndex(f"{work}/lex", num_parts=16)
        out = lex.bm25_topk(s, ["table", "query", "scan", "merge"],
                            k=15)
        return out.localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


@query("phrase_proximity_search", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (SELECT doc_id,
             CAST(len(list_filter(range(1, len(w)),
                  i -> w[i] = 'table' AND w[i + 1] = 'scan'))
                  AS BIGINT) AS n_phrase,
             CAST(len(list_filter(
                  list_filter(range(1, len(w) + 1),
                              i -> w[i] = 'query'),
                  p -> len(list_filter(
                       list_filter(range(1, len(w) + 1),
                                   i -> w[i] = 'merge'),
                       q -> abs(q - p) <= 5)) > 0))
                  AS BIGINT) AS n_near
      FROM t)
SELECT doc_id, n_phrase, n_near FROM s
WHERE n_phrase + n_near > 0
QUALIFY ROW_NUMBER() OVER (
    ORDER BY n_phrase DESC, n_near DESC, doc_id) <= 20
""")
def phrase_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional text retrieval beyond bag-of-words BM25: EXACT PHRASE
    occurrences ('table scan' as adjacent tokens, in order) and a
    PROXIMITY predicate ('query' within ±5 tokens of 'merge') per
    document — the operators behind quoted-query and NEAR() search.
    Both counts are higher-order array expressions over ONE tokenize
    (filter/exists over position sequences — JVM codegen, no UDF, no
    explode), so the whole query is a map-only projection with zero
    shuffles until the global top-k (TakeOrderedAndProject). At 100 TB
    the same expressions run per-split with only k rows ever crossing
    the wire; an index-backed variant stores positions in the
    ``StreamingLexicalIndex`` postings and joins k term partitions.
    Positions are 1-based (element_at) so DuckDB's 1-based lists
    replay the ranks bit-for-bit."""
    d = read_table(_spark(spark), sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("w"))
    n_phrase = F.expr(
        "size(filter(sequence(1, size(w) - 1), "
        "i -> element_at(w, i) = 'table' "
        "AND element_at(w, i + 1) = 'scan'))").cast("long")
    n_near = F.expr(
        "size(filter("
        "  filter(sequence(1, size(w)), i -> element_at(w, i) = 'query'),"
        "  p -> exists("
        "    filter(sequence(1, size(w)), i -> element_at(w, i) = 'merge'),"
        "    q -> abs(q - p) <= 5)))").cast("long")
    s = (t.filter(F.size("w") >= 2)
         .select("doc_id", n_phrase.alias("n_phrase"),
                 n_near.alias("n_near"))
         .filter(F.col("n_phrase") + F.col("n_near") > 0))
    w_top = Window.orderBy(F.col("n_phrase").desc(),
                           F.col("n_near").desc(), F.col("doc_id"))
    return (s.withColumn("rn", F.row_number().over(w_top))
            .filter(F.col("rn") <= 20).drop("rn"))


@query("lexical_index_phrase_sync", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (SELECT doc_id,
             CAST(len(list_filter(range(1, len(w)),
                  i -> w[i] = 'table' AND w[i + 1] = 'scan'))
                  AS BIGINT) AS n_phrase
      FROM t)
SELECT doc_id, n_phrase FROM s WHERE n_phrase > 0
QUALIFY ROW_NUMBER() OVER (ORDER BY n_phrase DESC, doc_id) <= 20
""")
def lexical_index_phrase_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-fed EXACT-PHRASE retrieval, end-to-end through the CDC
    sync: the documents table arrives as INSERT events,
    ``bounded_sync(lexical_index_path=..., lexical_positions=True)``
    maintains the POSITIONAL postings (1-based ``pos_list`` per
    (doc, term) row, pinned in the index meta), and
    ``StreamingLexicalIndex.phrase_topk`` answers 'table scan' as an
    exact-integer left-fold of position-array intersections over ONLY
    the two terms' postings partitions — the quoted-query serving
    path, never a corpus scan. For this insert-only workload the
    result must equal the scan-based positional count (the
    ``phrase_proximity_search`` n_phrase machinery), which is exactly
    what the oracle computes from the raw table. Layout pinning,
    update/tombstone purge and crash/replay convergence are
    pytest-pinned (tests/test_r12_lexical.py)."""
    import shutil
    import tempfile
    from .streaming.bounded import BoundedStreamConfig, bounded_sync
    from .streaming.lexical_state import StreamingLexicalIndex

    s = _spark(spark)
    docs = read_table(s, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="sparkcdc_lexph_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "16")
    try:
        flat = _stage_docs_as_event_waves(s, docs, work, 2)
        cfg = BoundedStreamConfig(
            mode="DEDUPE", primary_keys=["user_id"],
            max_files_per_trigger=1, max_wait_s=5.0,
            lexical_index_path=f"{work}/lex", lexical_parts=16,
            lexical_positions=True)
        bounded_sync(s, flat, f"{work}/state", f"{work}/ckpt", cfg)
        lex = StreamingLexicalIndex(f"{work}/lex", num_parts=16)
        out = lex.phrase_topk(s, ["table", "scan"], k=20)
        return out.localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


@query("lexical_index_near_sync", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (SELECT doc_id,
             CAST(len(list_filter(
                  list_filter(range(1, len(w) + 1),
                              i -> w[i] = 'query'),
                  p -> len(list_filter(
                       list_filter(range(1, len(w) + 1),
                                   i -> w[i] = 'merge'),
                       q -> abs(q - p) <= 5)) > 0))
                  AS BIGINT) AS n_near
      FROM t)
SELECT doc_id, n_near FROM s WHERE n_near > 0
QUALIFY ROW_NUMBER() OVER (ORDER BY n_near DESC, doc_id) <= 20
""")
def lexical_index_near_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-fed PROXIMITY retrieval, end-to-end through the CDC sync
    (VERDICT r12 #2 — the NEAR operator previously existed only in
    scan form): the documents table arrives as INSERT events,
    ``bounded_sync(lexical_index_path=..., lexical_positions=True)``
    maintains the positional postings, and
    ``StreamingLexicalIndex.proximity_topk`` answers
    'query' NEAR/±5 'merge' as an exact-integer exists-within-window
    fold over the stored 1-based position lists, opening ONLY the two
    terms' postings partitions — never the corpus. For this
    insert-only workload the counts must equal the scan-based
    ``phrase_proximity_search`` n_near machinery, which is exactly
    what the oracle computes from the raw table. Update/tombstone and
    fail-loud non-positional contracts are pytest-pinned
    (tests/test_r13_lexical.py)."""
    import shutil
    import tempfile
    from .streaming.bounded import BoundedStreamConfig, bounded_sync
    from .streaming.lexical_state import StreamingLexicalIndex

    s = _spark(spark)
    docs = read_table(s, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="sparkcdc_lexnr_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "16")
    try:
        flat = _stage_docs_as_event_waves(s, docs, work, 2)
        cfg = BoundedStreamConfig(
            mode="DEDUPE", primary_keys=["user_id"],
            max_files_per_trigger=1, max_wait_s=5.0,
            lexical_index_path=f"{work}/lex", lexical_parts=16,
            lexical_positions=True)
        bounded_sync(s, flat, f"{work}/state", f"{work}/ckpt", cfg)
        lex = StreamingLexicalIndex(f"{work}/lex", num_parts=16)
        out = lex.proximity_topk(s, "query", "merge", window=5, k=20)
        return out.localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)


@query("hybrid_index_rrf_sync", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
st AS (SELECT doc_id, len(w) AS dl,
              len(list_filter(w, x -> x = 'table')) AS tf1,
              len(list_filter(w, x -> x = 'query')) AS tf2,
              len(list_filter(w, x -> x = 'scan'))  AS tf3,
              len(list_filter(w, x -> x = 'merge')) AS tf4
       FROM t),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
             CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3,
             CAST(SUM(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df4
      FROM st),
sc AS (SELECT doc_id,
             round(ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
               * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
               * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df3 + 0.5) / (df3 + 0.5) + 1.0)
               * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln((n_docs - df4 + 0.5) / (df4 + 0.5) + 1.0)
               * (tf4 * 2.2) / (tf4 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
               6) AS bm25
      FROM st, g
      WHERE tf1 + tf2 + tf3 + tf4 > 0),
lexr AS (SELECT doc_id,
                ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rl
         FROM sc
         QUALIFY ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) <= 20),
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
cent AS (SELECT vec_id AS cent_id, e AS ce FROM v
         WHERE vec_id % 2 = 0
         QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 4),
d AS (SELECT vec_id, e, cent_id,
             list_sum(list_transform(range(1, 65),
                      i -> (e[i] - ce[i]) * (e[i] - ce[i]))) AS dist
      FROM v, cent),
assign AS (SELECT vec_id, e, cent_id FROM d
           QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist, cent_id) = 1),
n AS (SELECT vec_id, e, cent_id,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM assign),
qcells AS (SELECT cent_id FROM d WHERE vec_id = 5
           QUALIFY ROW_NUMBER() OVER (ORDER BY dist, cent_id) <= 2),
q AS (SELECT e AS qe, sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
      FROM v WHERE vec_id = 5),
sv AS (SELECT n.vec_id AS cid,
              round(list_sum(list_transform(range(1, 65),
                             i -> q.qe[i] * n.e[i])) / (q.qn * n.nrm), 6)
                AS sim
       FROM n JOIN qcells qc ON n.cent_id = qc.cent_id CROSS JOIN q
       WHERE n.vec_id <> 5),
vecr AS (SELECT cid, ROW_NUMBER() OVER (ORDER BY sim DESC, cid) AS rv
         FROM sv
         QUALIFY ROW_NUMBER() OVER (ORDER BY sim DESC, cid) <= 20),
fuse AS (SELECT COALESCE(l.doc_id, v2.cid) AS doc_id,
                round(COALESCE(1.0 / (60 + l.rl), 0)
                      + COALESCE(1.0 / (60 + v2.rv), 0), 9) AS rrf
         FROM lexr l FULL OUTER JOIN vecr v2 ON l.doc_id = v2.cid)
SELECT doc_id, rrf FROM fuse
QUALIFY ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) <= 10
""")
def hybrid_index_rrf_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid-retrieval triangle served END-TO-END from
    CDC-maintained side state (round 13): ONE
    ``bounded_sync_multi_fused`` drain carries two tables — documents
    maintaining the lexical postings, embeddings maintaining the IVF
    vector index (the r13 fused-fleet side states) — and the probe
    answers an RRF (k=60) hybrid query entirely from the two indexes:
    the lexical leg is index-fed BM25 top-20 (opens only the query
    terms' postings partitions + the maintained corpus stats), the
    vector leg is an IVF probe top-20 (opens only nprobe=2 cell
    directories), and the fusion consumes integer RANKS only — a
    fixed-order sum of two exact-integer-derived divisions, bit-exact
    in any engine (the ``rrf_hybrid_search`` discipline). Docs missing
    from one leg contribute only the present rank term (union RRF).
    The oracle replays both legs from the raw tables: the scan-based
    BM25 formulation and the full IVF replay (seed codebook = the 4
    smallest even ids — wave one of the 2-wave staging). At 100 TB the
    probe touches k-sized partition reads on both legs; the corpus is
    never scanned."""
    import shutil
    import tempfile
    from .operators.llm.annindex import IvfVectorIndex
    from .streaming.bounded import (BoundedStreamConfig,
                                    bounded_sync_multi_fused)
    from .streaming.lexical_state import StreamingLexicalIndex

    s = _spark(spark)
    docs = read_table(s, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(s, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"))
    work = tempfile.mkdtemp(prefix="sparkcdc_hybsync_")
    pkey = "spark.sql.shuffle.partitions"
    prev = s.conf.get(pkey)
    s.conf.set(pkey, "16")
    try:
        flat_docs = _stage_docs_as_event_waves(s, docs, f"{work}/d", 2)
        vec_docs = emb.select(F.col("vec_id").alias("doc_id"),
                              F.to_json(F.col("e")).alias("text"))
        flat_vecs = _stage_docs_as_event_waves(s, vec_docs,
                                               f"{work}/v", 2)
        drain = dict(mode="DEDUPE", primary_keys=["user_id"],
                     max_files_per_trigger=1, max_wait_s=5.0)
        cfgs = {
            "docs": BoundedStreamConfig(
                **drain, lexical_index_path=f"{work}/lex",
                lexical_parts=16),
            "vecs": BoundedStreamConfig(
                **drain, ann_index_path=f"{work}/ann",
                ann_index_cells=4),
        }
        bounded_sync_multi_fused(
            s, {"docs": flat_docs, "vecs": flat_vecs},
            f"{work}/out", f"{work}/ckpt", cfgs)
        lex = StreamingLexicalIndex(f"{work}/lex", num_parts=16)
        idx = IvfVectorIndex(f"{work}/ann", n_cells=4)
        lexr = lex.bm25_topk(s, ["table", "query", "scan", "merge"],
                             k=20)
        wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
        lexr = lexr.select("doc_id",
                           F.row_number().over(wl).alias("rl"))
        probes = (emb.filter(F.col("vec_id") == 5)
                  .select(F.col("vec_id").alias("qid"),
                          F.col("e").alias("qe")))
        vecr = idx.probe(s, probes, k=20, nprobe=2)
        wv = Window.orderBy(F.col("sim").desc(), F.col("cid"))
        vecr = vecr.select(F.col("cid").alias("v_id"),
                           F.row_number().over(wv).alias("rv"))
        fuse = lexr.join(vecr, lexr["doc_id"] == vecr["v_id"],
                         "full_outer")
        rrf = F.round(
            F.coalesce(F.lit(1.0) / (60 + F.col("rl")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (60 + F.col("rv")), F.lit(0.0)),
            9)
        out = fuse.select(
            F.coalesce(F.col("doc_id"), F.col("v_id")).alias("doc_id"),
            rrf.alias("rrf"))
        w_top = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
        out = (out.withColumn("rn", F.row_number().over(w_top))
               .filter(F.col("rn") <= 10).drop("rn"))
        return out.localCheckpoint(eager=True)
    finally:
        s.conf.set(pkey, prev)
        shutil.rmtree(work, ignore_errors=True)
