"""Relational re-expressions of the reference's operator shapes
(SURVEY §2) over the driver's TPC-H-ish tables.

The reference's per-document operators are geometric/textual, but each
has a relational *shape* — histogram aggregation, plateau top-k,
interval joins, as-of joins, anti-joins, lag/cumsum segmentation,
recurrence dedup.  These queries demonstrate the same shapes as
Catalyst-planned DataFrame ops with DuckDB oracles.

Float determinism: every SUM/AVG over doubles goes through
DECIMAL(18,6) (order-independent, identical in both engines); window
orderings carry unique tie-break columns.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .tables import read_table


# --- A1-A6 analog: grouped aggregation with exact sums (TPC-H Q1 shape) ----
def q_pricing_summary(spark, sf_dir):
    """Histogram-style per-group stats (reference A1-A6 char-gap/font
    histograms, internal_models.py:345-433)."""
    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(18,6)"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(dec)).cast("double").alias("sum_qty"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.floor(
                F.sum(F.col("l_quantity").cast(dec)).cast("double")
                / F.count(F.lit(1)) * 1e4
            ) / 1e4).alias("avg_qty"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows,
       FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1e4) / 1e4 AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- F2 analog: band filter against a group statistic ----------------------
def q_band_filter(spark, sf_dir):
    """Width-band classifier (reference F2: block width within
    0.95-1.05x the common width, text_api.py:144-187): parts whose
    retail price is within 0.95-1.05x their brand's average."""
    part = read_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    dec = "decimal(18,6)"
    avg_exact = (
        F.sum(F.col("p_retailprice").cast(dec)).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        part.withColumn("brand_avg", avg_exact)
        .withColumn("ratio", F.col("p_retailprice") / F.col("brand_avg"))
        .filter((F.col("ratio") >= 0.95) & (F.col("ratio") <= 1.05))
        .select("p_partkey", "p_brand", (F.floor(F.col("ratio") * 1e6) / 1e6).alias("ratio"))
    )


SQL_BAND = """
WITH x AS (
  SELECT p_partkey, p_brand, p_retailprice,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) OVER (PARTITION BY p_brand) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY p_brand) AS brand_avg
  FROM part)
SELECT p_partkey, p_brand, FLOOR(p_retailprice / brand_avg * 1e6) / 1e6 AS ratio
FROM x WHERE p_retailprice / brand_avg >= 0.95 AND p_retailprice / brand_avg <= 1.05
"""


# --- F3/X5 analog: regex pattern classification -----------------------------
def q_regex_classify(spark, sf_dir):
    """Pattern-list filter (reference F3 metadata regex list,
    util_functions.py:13-21): first matching pattern labels the doc."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(F.col("text").rlike(r"\bspark\b"), F.lit("spark"))
        .when(F.col("text").rlike(r"\b(join|merge)\b"), F.lit("join"))
        .when(F.col("text").rlike(r"\bwindow\b"), F.lit("window"))
        .alias("pattern"),
    ).filter(F.col("pattern").isNotNull())


SQL_REGEX = r"""
SELECT doc_id,
       CASE WHEN regexp_matches(text, '\bspark\b') THEN 'spark'
            WHEN regexp_matches(text, '\b(join|merge)\b') THEN 'join'
            WHEN regexp_matches(text, '\bwindow\b') THEN 'window' END AS pattern
FROM documents
WHERE regexp_matches(text, '\bspark\b') OR regexp_matches(text, '\b(join|merge)\b')
   OR regexp_matches(text, '\bwindow\b')
"""


# --- J1 analog: equi + interval range join -----------------------------------
def q_range_join(spark, sf_dir):
    """bbox-containment join (reference J1: page equality AND interval
    overlap, internal_models.py:198-203) — same shape here: equi on
    orderkey AND a date-interval predicate: lineitems shipped within 90
    days of their order."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_quick_items"))
    )


SQL_RANGE_JOIN = """
SELECT o_orderkey, COUNT(*) AS n_quick_items
FROM orders JOIN lineitem
  ON lineitem.l_orderkey = orders.o_orderkey
 AND lineitem.l_shipdate >= orders.o_orderdate
 AND lineitem.l_shipdate <= orders.o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderkey
"""


# --- J2/J5 analog: as-of (nearest-following) join ----------------------------
def q_asof_join(spark, sf_dir):
    """Nearest-following assignment (reference J5: header attaches to the
    nearest following chapter, text_api.py:198-227; J2 greedy nearest
    match table_models.py:93-153): for each order, the earliest ship
    date at or after the order date."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, (li.l_orderkey == o.o_orderkey) & (li.l_shipdate >= o.o_orderdate))
        .groupBy("o_orderkey")
        .agg(F.min("l_shipdate").alias("first_ship_ts"))
    )


SQL_ASOF = """
SELECT o_orderkey, MIN(l_shipdate) AS first_ship_ts
FROM orders JOIN lineitem
  ON lineitem.l_orderkey = orders.o_orderkey AND lineitem.l_shipdate >= orders.o_orderdate
GROUP BY o_orderkey
"""


# --- J6 analog: anti-join -----------------------------------------------------
def q_anti_join(spark, sf_dir):
    """Delete-from-text anti-join (reference J6, text_api.py:396-426):
    customers with no event activity."""
    c = read_table(spark, sf_dir, "customer")
    e = read_table(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "left_anti").select("c_custkey", "c_name")


SQL_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
"""


# --- W1/W4 analog: lag + cumsum segmentation ---------------------------------
def q_sessionize(spark, sf_dir):
    """Gap-based segmentation (reference W1 block re-segmentation
    internal_models.py:100-167, W4 chapter segmentation
    text_api.py:240-271): 30-minute-gap sessions per user."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond arithmetic (exact integers, identical to DuckDB epoch_us)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lag_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    brk = (
        F.when(
            F.lag("ts").over(w).isNull() | (us - lag_us > 1_800_000_000),
            1,
        ).otherwise(0)
    )
    # two selects: Spark forbids nesting a window fn inside another
    staged = e.withColumn("brk", brk)
    sid = F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        staged.withColumn("sid", sid)
        .groupBy("user_id")
        .agg(F.max("sid").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


SQL_SESSIONIZE = """
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
y AS (
  SELECT user_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
  FROM x)
SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM y GROUP BY user_id
"""


# --- O6 analog: recurrence dedup ---------------------------------------------
def q_recurring(spark, sf_dir):
    """Recurring-element detection (reference O6: same bbox > 2 times,
    text_models.py:377-390): (user, event_type) seen more than twice."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_times"))
        .filter(F.col("n_times") > 2)
    )


SQL_RECURRING = """
SELECT user_id, event_type, COUNT(*) AS n_times
FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 2
"""


# --- A5/O4 analog: top-1 of histogram ----------------------------------------
def q_top1_histogram(spark, sf_dir):
    """Most-common value per group (reference A5 'most common font/size',
    text_models.py:453-465 / O4)."""
    li = read_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"), F.asc("l_quantity"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("top_qty"), "cnt")
    )


SQL_TOP1 = """
WITH c AS (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity ASC) AS rn FROM c)
SELECT l_returnflag, l_quantity AS top_qty, cnt FROM r WHERE rn = 1
"""


# --- A5 analog: histogram plateau --------------------------------------------
def q_plateau(spark, sf_dir):
    """The reference's plateau rule: 'most common' = every value whose
    count >= 0.6x the max count (text_models.py:453-465)."""
    li = read_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_linestatus", "l_quantity").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("l_linestatus")
    return (
        counts.withColumn("max_cnt", F.max("cnt").over(w))
        .filter(F.col("cnt") >= 0.6 * F.col("max_cnt"))
        .select("l_linestatus", F.col("l_quantity").alias("qty"), "cnt")
    )


SQL_PLATEAU = """
WITH c AS (SELECT l_linestatus, l_quantity, COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2),
m AS (SELECT *, MAX(cnt) OVER (PARTITION BY l_linestatus) AS max_cnt FROM c)
SELECT l_linestatus, l_quantity AS qty, cnt FROM m WHERE cnt >= 0.6 * max_cnt
"""


# --- O1/O2 analog: deterministic ordering + per-group top-k -------------------
def q_reading_order(spark, sf_dir):
    """Reading-order sort + top-k (reference O1 text_models.py:478-512,
    O2 row/cell sorts): first 3 events per user in (ts, event_id) order."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id")
    )


SQL_READING_ORDER = """
WITH r AS (SELECT user_id, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events)
SELECT user_id, rn, event_id FROM r WHERE rn <= 3
"""


# --- O5 analog: max-by ---------------------------------------------------------
def q_longest_per_lang(spark, sf_dir):
    """Longest-match pick (reference O5: longest DOI wins,
    metadata_api.py:201-210): longest document per language."""
    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "doc_id", "n_chars")
    )


SQL_LONGEST = """
WITH r AS (SELECT lang, doc_id, n_chars,
                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
           FROM documents)
SELECT lang, doc_id, n_chars FROM r WHERE rn = 1
"""


# --- A9 analog: token-type classification --------------------------------------
def q_word_types(spark, sf_dir):
    """Deterministic WORD/NUM/UNKNOWN token classifier (reference A9,
    text_detection.py:32-53) over exploded document tokens."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok")).filter(
        F.length("tok") > 0
    )
    typed = tok.select(
        F.when(F.col("tok").rlike(r"^[0-9.,%±\-]+$"), F.lit("NUM"))
        .when(F.length("tok") < 3, F.lit("UNKNOWN"))
        .otherwise(F.lit("WORD"))
        .alias("word_type")
    )
    return typed.groupBy("word_type").agg(F.count(F.lit(1)).alias("n_tokens"))


SQL_WORD_TYPES = r"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
t AS (SELECT tok FROM tok WHERE length(tok) > 0)
SELECT CASE WHEN regexp_matches(tok, '^[0-9.,%±\-]+$') THEN 'NUM'
            WHEN length(tok) < 3 THEN 'UNKNOWN'
            ELSE 'WORD' END AS word_type,
       COUNT(*) AS n_tokens
FROM t GROUP BY 1
"""


# --- A12 analog: rollup metrics -------------------------------------------------
def q_rollup_metrics(spark, sf_dir):
    """Job-level success/failure-style rollup metrics (SURVEY A12):
    document counts and exact char sums by (lang, source) with ROLLUP."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


SQL_ROLLUP = """
SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP (lang, source)
"""


# --- skew pattern: salted two-phase aggregation ---------------------------------
def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation (SURVEY §4.3 skewed-host salting):
    salt the hot key space, partial-aggregate per (key, salt), then
    final-aggregate per key.  The oracle is the plain single-phase
    aggregate — results must be identical."""
    e = read_table(spark, sf_dir, "events")
    dec = "decimal(18,6)"
    salted = e.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("c"), F.sum(F.col("value").cast(dec)).alias("s")
    )
    return partial.groupBy("event_type").agg(
        F.sum("c").alias("n_events"), F.sum("s").cast("double").alias("sum_value")
    )


SQL_SALTED = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


QUERIES = {
    "rel_pricing_summary": q_pricing_summary,
    "rel_band_filter": q_band_filter,
    "rel_regex_classify": q_regex_classify,
    "rel_range_join": q_range_join,
    "rel_asof_join": q_asof_join,
    "rel_anti_join": q_anti_join,
    "rel_sessionize": q_sessionize,
    "rel_recurring": q_recurring,
    "rel_top1_histogram": q_top1_histogram,
    "rel_plateau": q_plateau,
    "rel_reading_order": q_reading_order,
    "rel_longest_per_lang": q_longest_per_lang,
    "rel_word_types": q_word_types,
    "rel_rollup_metrics": q_rollup_metrics,
    "rel_salted_agg": q_salted_agg,
}

ORACLES = {
    "rel_pricing_summary": SQL_PRICING,
    "rel_band_filter": SQL_BAND,
    "rel_regex_classify": SQL_REGEX,
    "rel_range_join": SQL_RANGE_JOIN,
    "rel_asof_join": SQL_ASOF,
    "rel_anti_join": SQL_ANTI,
    "rel_sessionize": SQL_SESSIONIZE,
    "rel_recurring": SQL_RECURRING,
    "rel_top1_histogram": SQL_TOP1,
    "rel_plateau": SQL_PLATEAU,
    "rel_reading_order": SQL_READING_ORDER,
    "rel_longest_per_lang": SQL_LONGEST,
    "rel_word_types": SQL_WORD_TYPES,
    "rel_rollup_metrics": SQL_ROLLUP,
    "rel_salted_agg": SQL_SALTED,
}


# --- additional classic shapes (coverage breadth) ---------------------------
def q_pivot(spark, sf_dir):
    """Pivot (conditional aggregation): quantity sums per returnflag
    pivoted on linestatus.  Oracle uses CASE-sums — same arithmetic."""
    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(18,6)"
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(dec)).cast("double"))
        .select(
            "l_returnflag",
            F.col("O").alias("qty_o"),
            F.col("F").alias("qty_f"),
        )
    )


SQL_PIVOT = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_o,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_f
FROM lineitem GROUP BY l_returnflag
"""


def q_cube(spark, sf_dir):
    """CUBE grouping sets over (returnflag, linestatus)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


SQL_CUBE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_semi_join(spark, sf_dir):
    """EXISTS / left-semi: customers with event activity."""
    c = read_table(spark, sf_dir, "customer")
    e = read_table(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "left_semi").select("c_custkey", "c_mktsegment")


SQL_SEMI = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
"""


def q_set_ops(spark, sf_dir):
    """INTERSECT/EXCEPT: customers who ordered, split by whether they
    also have events."""
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")).distinct()
    e = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k")).distinct()
    both = o.intersect(e).withColumn("segment", F.lit("ordered_and_active"))
    only_o = o.exceptAll(e).withColumn("segment", F.lit("ordered_only"))
    return both.unionByName(only_o).select("k", "segment")


SQL_SET_OPS = """
WITH o AS (SELECT DISTINCT o_custkey AS k FROM orders),
e AS (SELECT DISTINCT user_id AS k FROM events)
SELECT k, 'ordered_and_active' AS segment FROM (SELECT k FROM o INTERSECT SELECT k FROM e)
UNION ALL
SELECT k, 'ordered_only' AS segment FROM (SELECT k FROM o EXCEPT SELECT k FROM e)
"""


def q_dense_topn(spark, sf_dir):
    """dense_rank top-N with ties: top-2 order price ranks per priority."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    return (
        o.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 2)
        .select("o_orderpriority", "o_orderkey", "rnk")
    )


SQL_DENSE_TOPN = """
WITH r AS (SELECT o_orderpriority, o_orderkey,
                  DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk
           FROM orders)
SELECT o_orderpriority, o_orderkey, rnk FROM r WHERE rnk <= 2
"""


def q_correlated_above_avg(spark, sf_dir):
    """Correlated-subquery shape: customers above their nation's average
    account balance (decorrelated to a window average, exact decimal)."""
    c = read_table(spark, sf_dir, "customer")
    dec = "decimal(18,6)"
    w = Window.partitionBy("c_nationkey")
    nat_avg = (
        F.sum(F.col("c_acctbal").cast(dec)).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        c.withColumn("nat_avg", nat_avg)
        .filter(F.col("c_acctbal") > F.col("nat_avg"))
        .select("c_custkey", "c_nationkey", (F.floor(F.col("nat_avg") * 1e4) / 1e4).alias("nat_avg"))
    )


SQL_CORRELATED = """
WITH x AS (SELECT c_custkey, c_nationkey, c_acctbal,
                  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) OVER (PARTITION BY c_nationkey) AS DOUBLE)
                    / COUNT(*) OVER (PARTITION BY c_nationkey) AS nat_avg
           FROM customer)
SELECT c_custkey, c_nationkey, FLOOR(nat_avg * 1e4) / 1e4 AS nat_avg
FROM x WHERE c_acctbal > nat_avg
"""


QUERIES.update(
    {
        "rel_pivot": q_pivot,
        "rel_cube": q_cube,
        "rel_semi_join": q_semi_join,
        "rel_set_ops": q_set_ops,
        "rel_dense_topn": q_dense_topn,
        "rel_correlated_above_avg": q_correlated_above_avg,
    }
)

ORACLES.update(
    {
        "rel_pivot": SQL_PIVOT,
        "rel_cube": SQL_CUBE,
        "rel_semi_join": SQL_SEMI,
        "rel_set_ops": SQL_SET_OPS,
        "rel_dense_topn": SQL_DENSE_TOPN,
        "rel_correlated_above_avg": SQL_CORRELATED,
    }
)
