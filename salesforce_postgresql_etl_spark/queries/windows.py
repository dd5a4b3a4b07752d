"""Window-function queries (SURVEY.md §2.5, W1–W8) + as-of join (J9).

Scale doctrine: EVERY window here is partitioned (`partitionBy` on a
high-cardinality key), so the work distributes across executors — one
shuffle on the partition key, then per-partition sort. No global
(unpartitioned) window appears in this module; that shape funnels the
whole table through one task (the q_sort caveat, VERDICT r1 #2).

Determinism: each ORDER BY carries a unique tiebreaker column so
row_number/lag/first-last are total orders; running sums go through
DECIMAL (functions.determinism) so they're execution-order exact.

W1 (`q_win_dedup_latest`) is the signature Salesforce-ETL semantic:
keep the newest record per Id across overlapping incremental extracts
(`row_number() over (partition by Id order by SystemModstamp desc) = 1`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import money, sql_dec_to_double, dec_to_double
from ..sources import load
from . import register


# ---------------------------------------------------------------------------
# W1 — dedup-latest per key (THE Salesforce-ETL pattern)
# ---------------------------------------------------------------------------
@register(
    "q_win_dedup_latest",
    oracle="""
SELECT user_id, event_id, ts, event_type
FROM (SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
)
def q_win_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


# ---------------------------------------------------------------------------
# W2 — rank / dense_rank / percent_rank (real ties: c_nationkey)
# ---------------------------------------------------------------------------
@register(
    "q_win_rank",
    oracle="""
SELECT c_custkey, c_mktsegment, c_nationkey,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       percent_rank() OVER w AS prnk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_nationkey)
""",
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_nationkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
    )


# ---------------------------------------------------------------------------
# W3 — ntile quantile bucketing
# ---------------------------------------------------------------------------
@register(
    "q_win_ntile",
    oracle="""
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
FROM customer
""",
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_mktsegment", F.ntile(4).over(w).alias("quartile")
    )


# ---------------------------------------------------------------------------
# W4 — lag / lead deltas between consecutive events per user
# ---------------------------------------------------------------------------
@register(
    "q_win_lag",
    oracle="""
SELECT event_id, user_id, value,
       lag(value, 1) OVER w AS prev_value,
       lead(value, 1) OVER w AS next_value,
       value - lag(value, 1) OVER w AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        (F.col("value") - F.lag("value", 1).over(w)).alias("delta"),
    )


# ---------------------------------------------------------------------------
# W5 — running total (unboundedPreceding → currentRow), decimal-exact
# ---------------------------------------------------------------------------
@register(
    "q_win_running",
    # (l_orderkey, l_linenumber) is NOT unique in the fixtures, so a ROWS
    # frame would be order-ambiguous among peers. RANGE includes all peers
    # of the current sort key → deterministic in both engines.
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {sql_dec_to_double(
           "SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER ("
           "PARTITION BY l_orderkey ORDER BY l_linenumber "
           "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)} AS running_qty,
       CAST(COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
FROM lineitem
""",
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return l.select(
        "l_orderkey",
        "l_linenumber",
        dec_to_double(F.sum(money("l_quantity")).over(w), 2).alias("running_qty"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


# ---------------------------------------------------------------------------
# W6 — time-range frame: trailing 1-hour moving aggregate per user.
# Spark range frames need a numeric ORDER BY → epoch seconds (integer
# truncation matches DuckDB's date_part('epoch')). Only order-safe aggs
# (count/min/max) are exposed; an FP sum over an arbitrary-order frame
# would not be deterministic.
# ---------------------------------------------------------------------------
@register(
    "q_win_range",
    oracle="""
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_1h,
       MIN(value) OVER w AS min_1h,
       MAX(value) OVER w AS max_1h
FROM (SELECT *, CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def q_win_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").withColumn(
        "sec", F.col("ts").cast("timestamp").cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.min("value").over(w).alias("min_1h"),
        F.max("value").over(w).alias("max_1h"),
    )


# ---------------------------------------------------------------------------
# W7 — first_value / last_value with explicit full frame
# ---------------------------------------------------------------------------
@register(
    "q_win_firstlast",
    oracle="""
SELECT event_id, user_id,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type) OVER w AS last_type,
       first_value(ts) OVER w AS first_ts
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def q_win_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.first("ts").over(w).alias("first_ts"),
    )


# ---------------------------------------------------------------------------
# W8 — top-k per group (row_number, not rank: exactly k rows per key)
# ---------------------------------------------------------------------------
@register(
    "q_win_topk_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
""",
)
def q_win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# J9 — as-of join: for each 'purchase' event, the latest 'click' by the
# same user at-or-before the purchase time.
#
# Spark has no batch ASOF JOIN operator; the idiomatic plan is a
# non-equi join on (user_id, c_ts <= p_ts) followed by a partitioned
# row_number — one shuffle on user_id, then per-probe top-1. This band
# join is quadratic per user, so it stays ONLY as the oracle form; the
# 100 TB path is operators/asof.py::asof_backward_join — union both
# sides, one hash shuffle on user_id, sortWithinPartitions(ts), and a
# running last(... IGNORE NULLS) window: a merge join expressed
# declaratively, proven ≡ this form in tests/test_asof.py and timed as
# perfbench's queries.q_join_asof_s.
# ---------------------------------------------------------------------------
@register(
    "q_join_asof",
    oracle="""
WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
           WHERE event_type = 'purchase'),
     c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
           WHERE event_type = 'click'),
     j AS (SELECT p.user_id, p.p_id, p.p_ts, c.c_id, c.c_ts,
                  ROW_NUMBER() OVER (PARTITION BY p.p_id
                                     ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
           FROM p LEFT JOIN c
             ON p.user_id = c.user_id AND c.c_ts <= p.p_ts)
SELECT user_id, p_id, p_ts, c_id AS asof_click_id, c_ts AS asof_click_ts
FROM j WHERE rn = 1
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    j = p.join(
        c, (p.user_id == c.c_user) & (c.c_ts <= p.p_ts), "left"
    )
    w = Window.partitionBy("p_id").orderBy(F.desc("c_ts"), F.desc("c_id"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "p_id",
            "p_ts",
            F.col("c_id").alias("asof_click_id"),
            F.col("c_ts").alias("asof_click_ts"),
        )
    )
