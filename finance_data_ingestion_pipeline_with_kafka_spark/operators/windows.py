"""Window functions (SURVEY §2.5 W1–W7, §2.6 O1).

All windows partition by a key — per-partition state fits in memory at any
scale because partitions are bounded by the key cardinality split, and
Spark spills sorted runs if not. No global (unpartitioned) windows appear
anywhere in the catalog: a global window is a single-task bottleneck at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.core import DEC
from ..registry import query, sized


@query(
    "window_rank_topk",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
             CAST(RANK() OVER w AS BIGINT) AS rnk,
             CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
    tags=("W1", "O1"),
    bench=True,
    policy=sized,
)
def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W1] Per-group top-k via row_number/rank/dense_rank — the
    last-closed-bar selection pattern (``StockFinanceMetrics.py:87-93``)
    generalized. Tie-break on orderkey makes row_number deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
        # presentation sort dropped (order-insensitive compare); the
        # window's own partition sort is the semantic one
    )


@query(
    "window_lag_returns",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           LAG(o_totalprice) OVER w AS prev_price,
           ROUND(o_totalprice - LAG(o_totalprice) OVER w, 4) AS price_change
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("W2",),
)
def window_lag_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W2] lag/lead — the minute-over-minute return transform
    (close/lag(close)-1) on the orders timeline."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        prev.alias("prev_price"),
        F.round(F.col("o_totalprice") - prev, 4).alias("price_change"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@query(
    "window_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER w AS DOUBLE)
             / COUNT(o_totalprice) OVER w AS sma3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("W3",),
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W3] Moving average over a rows frame (20-bar SMA shape). Decimal
    accumulation inside the frame keeps it order-independent."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    sma = F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double") / F.count(
        "o_totalprice"
    ).over(w)
    return o.select("o_custkey", "o_orderkey", "o_orderdate", sma.alias("sma3")).orderBy(
        "o_custkey", "o_orderdate", "o_orderkey"
    )


@query(
    "window_cumulative",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER w AS DOUBLE) AS running_spend,
           CAST(COUNT(*) OVER w AS BIGINT) AS running_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("W5",),
)
def window_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W5] Cumulative running totals — "running volume since open"."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_spend"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("running_orders"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@query(
    "window_range_frame",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30m_value
    FROM events_us
    ORDER BY user_id, ts, event_id
    """,
    tags=("W4",),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W4] Range frame over event-time seconds — 30-minute rolling sum
    over irregular ticks (the rolling-VWAP frame, SURVEY §2.5 W4)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-1800, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("rolling_30m_value"),
    ).orderBy("user_id", "ts", "event_id")


@query(
    "window_ntile_pctrank",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(NTILE(4) OVER w AS INT) AS bal_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS bal_pct_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, c_acctbal, c_custkey
    """,
    tags=("W6",),
)
def window_ntile_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W6] ntile quartiles + percent_rank — volatility-quartile shape."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).cast("int").alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
    ).orderBy("c_mktsegment", "c_acctbal", "c_custkey")


@query(
    "window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           FIRST_VALUE(o_totalprice) OVER w AS first_spend,
           LAST_VALUE(o_totalprice)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("W7",),
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W7] first/last value in frame — session-open-price shape. The
    last_value frame is full-partition so it is well-defined (default frame
    would stop at CURRENT ROW)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_spend"),
        F.last("o_totalprice").over(wfull).alias("last_spend"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@query(
    "window_cume_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(CUME_DIST() OVER w, 6) AS price_cume,
           CAST(NTH_VALUE(o_totalprice, 2) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS DOUBLE) AS second_order_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("W6", "W7"),
)
def window_cume_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W6/W7] cume_dist (fraction of peers at-or-below) and nth_value
    over the full-partition frame — rounding guards cume_dist's division
    against cross-engine ULP noise."""
    o = load_table(spark, sf_dir, "orders")
    w_price = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.cume_dist().over(w_price), 6).alias("price_cume"),
        F.nth_value("o_totalprice", 2).over(w_full).cast("double").alias("second_order_price"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "funnel_analysis",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    s1 AS (
      SELECT user_id, MIN(ts) AS view_ts FROM events_us
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM events_us e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.view_ts
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events_us e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.click_ts
      GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.view_ts, s2.click_ts, s3.purchase_ts,
           CAST(1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT
                AS INT) AS funnel_stage
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    ORDER BY s1.user_id
    """,
    tags=("W1", "A1"),
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view → click → purchase with strictly
    increasing timestamps) — the product-analytics sequence-matching
    operator. Each stage is the MIN event time AFTER the previous
    stage's time, so out-of-order events never count; a user's
    funnel_stage is how far they progressed in order.

    Scale: three per-user scalar aggregations chained by user_id equi-
    joins — every intermediate is one row per qualifying user (never a
    row-level blowup), all joins are on the same key so one partitioning
    serves the whole chain (co-partitioned in a bucketed lake)."""
    e = load_table(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    stage = (
        F.lit(1)
        + F.col("click_ts").isNotNull().cast("int")
        + F.col("purchase_ts").isNotNull().cast("int")
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            stage.cast("int").alias("funnel_stage"),
        )
        .orderBy("user_id")
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events_us GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
      FROM events_us
    )
    SELECT f.cohort_week, a.activity_week,
           CAST((epoch(a.activity_week) - epoch(f.cohort_week)) / 604800 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_week, a.activity_week
    ORDER BY f.cohort_week, a.activity_week
    """,
    tags=("A1", "F5"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-seen week
    (the cohort), counted in every week they were active — the
    engagement-retention report. Week buckets are Monday-start
    ``date_trunc('week', ...)`` in both engines; the offset is an exact
    integer because week-truncated UTC timestamps differ by multiples of
    604800 s.

    Scale: one per-user MIN (cohort), one distinct (user, week) pass,
    one user_id join, one (cohort, week) aggregation — the distinct
    bounds state at users × weeks, and every shuffle key is either
    user_id or the output grain."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("activity_week")
    ).distinct()
    offset = (
        (F.unix_timestamp("activity_week") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("long")
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            "cohort_week",
            "activity_week",
            offset.alias("week_offset"),
            "n_active",
        )
        .orderBy("cohort_week", "activity_week")
    )
