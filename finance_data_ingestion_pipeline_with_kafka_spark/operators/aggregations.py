"""Aggregations (SURVEY §2.4 A1–A8).

Physical shape: Catalyst plans every ``groupBy().agg()`` as partial
(map-side) + final hash aggregation — at 100 TB the shuffle carries only
one row per (group × partition), not raw data. Float sums go through exact
DECIMAL accumulation so results are order-independent (registry docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.core import DEC, davg, dsum
from ..registry import query, sized


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A1",),
    bench=True,
    policy=sized,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1] Flagship: TPC-H-Q1-style grouped hash aggregation (the
    per-flag pricing summary the reference's promised "financial reports"
    need — SURVEY §2.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # presentation sort dropped (order-insensitive compare)
    )


@query(
    "grouped_stats",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS sum_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("A1",),
)
def grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1] min/max/sum/avg/count per group. min/max over doubles are
    order-independent (no decimal guard needed)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").cast("double").alias("min_bal"),
            F.max("c_acctbal").cast("double").alias("max_bal"),
            dsum("c_acctbal").alias("sum_bal"),
            davg("c_acctbal").alias("avg_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "distinct_count",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A4",),
)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] Exact distinct count. (The approx variant
    ``approx_count_distinct`` is exercised in unit tests, not the oracle —
    its HLL estimate is engine-specific by design.)"""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
    FROM lineitem
    ORDER BY l_returnflag, l_linestatus, l_shipdate
    """,
    tags=("A5",),
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A5] De-duplicated row set — parity with the producer-side tuple
    dedup (``StockFinnhubMetrics.py:82-99``) expressed relationally."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus", "l_shipdate")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
    )


@query(
    "rollup_subtotals",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("A6",),
)
def rollup_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A6] ROLLUP subtotals + grand total (report shaping, README.md:15)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "cube_subtotals",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("A6",),
)
def cube_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A6] CUBE over status × priority."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


@query(
    "stddev_variance",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 4) AS price_stddev,
           ROUND((sxx - sx * sx / n) / (n - 1), 2) AS price_var
    FROM s
    ORDER BY l_returnflag
    """,
    tags=("A7",),
)
def stddev_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Sample stddev/variance via exact decimal moment sums — the
    distributed-safe formulation (built-in ``stddev`` accumulates doubles
    in shuffle order, which cannot hash-match a serial oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt(var), 4).alias("price_stddev"),
        F.round(var, 2).alias("price_var"),
    ).orderBy("l_returnflag")


@query(
    "pivot_matrix",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders
    GROUP BY 1
    ORDER BY order_year
    """,
    tags=("A8",),
)
def pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A8] Pivot year × status counts (the ticker × day close matrix shape,
    README.md:15). Explicit pivot values → no extra distinct-values job."""
    o = load_table(spark, sf_dir, "orders")
    out = (
        o.withColumn("order_year", F.year("o_orderdate"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .orderBy("order_year")
    )
    renamed = out.select(
        "order_year",
        F.coalesce("F", F.lit(0)).alias("status_F"),
        F.coalesce("O", F.lit(0)).alias("status_O"),
        F.coalesce("P", F.lit(0)).alias("status_P"),
    )
    return renamed


@query(
    "percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("A7",),
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Exact interpolated percentiles — Spark ``percentile`` and DuckDB
    ``quantile_cont`` both linearly interpolate over the sorted values;
    rounding to 4 digits absorbs any final-arithmetic ULP difference."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
            F.max("l_extendedprice").cast("double").alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "correlation",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS qty_price_corr
    FROM s
    ORDER BY l_returnflag
    """,
    tags=("A7",),
)
def correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Pearson correlation via exact decimal moment sums (the
    distributed-safe formulation of ``F.corr`` — returns-correlation shape
    for the pairwise ticker matrix)."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,6)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,6)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return s.select(
        "l_returnflag", "n", F.round(corr, 6).alias("qty_price_corr")
    ).orderBy("l_returnflag")


@query(
    "argmax_order",
    oracle="""
    SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    ORDER BY o_custkey
    """,
    tags=("A1", "O1"),
)
def argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1] argmax via ``max_by`` with a total-order tiebreak
    (struct(price, -orderkey)) — one hash aggregation, no window sort:
    the cheaper plan for "most valuable order per customer" at scale."""
    o = load_table(spark, sf_dir, "orders")
    best = F.max_by(
        F.struct(F.col("o_orderkey"), F.col("o_totalprice")),
        F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")).alias("neg")),
    )
    return (
        o.groupBy("o_custkey")
        .agg(best.alias("best"))
        .select(
            "o_custkey",
            F.col("best.o_orderkey").alias("best_orderkey"),
            F.col("best.o_totalprice").alias("best_price"),
        )
        .orderBy("o_custkey")
    )


@query(
    "approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS users_within_bound,
           COUNT(DISTINCT event_id) AS exact_events,
           TRUE AS events_within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A4",),
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] HyperLogLog++ approximate distinct — the constant-memory path
    for "active tickers per window" at 100 TB (exact distinct shuffles
    every key). The HLL estimate itself is engine-specific, so the
    driver-checkable contract emits the exact count plus a boolean
    asserting the estimate landed within 3×rsd of it — the oracle computes
    the same exact count and TRUE, so rows/schema/hash compare
    deterministically while still failing if the sketch ever drifts out
    of bound."""
    e = load_table(spark, sf_dir, "events")
    rsd = 0.02
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
        F.countDistinct("event_id").alias("exact_events"),
        F.approx_count_distinct("event_id", rsd=rsd).alias("approx_events"),
    )

    def within(approx: str, exact: str) -> F.Column:
        err = F.abs(F.col(approx) - F.col(exact)) / F.col(exact)
        return err <= 3 * rsd

    return agg.select(
        "event_type",
        "exact_users",
        within("approx_users", "exact_users").alias("users_within_bound"),
        "exact_events",
        within("approx_events", "exact_events").alias("events_within_bound"),
    ).orderBy("event_type")


@query(
    "grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("A6",),
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A6] Explicit GROUPING SETS (the general form behind rollup/cube)
    with GROUPING() flags to tell a real NULL group key from a subtotal
    row — the report-shaping contract in one pass over the fact table
    (Catalyst expands the sets into a single Expand + hash aggregate, not
    one scan per set)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy(
            "g_status",
            "g_priority",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "hll_sketch_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A4",),
)
def hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] Distinct users per event type via a mergeable HLL sketch
    (``hll_sketch_agg``, Datasketches-compatible binary). At 100 TB this is
    how distinct-count works: per-partition sketches shuffle as ~KB blobs
    (not raw keys), merge associatively (``hll_union_agg``), persist as a
    rollup column, and re-aggregate across any dimension without rescanning
    raw data. Driver-checkable contract: exact count + a boolean pinning
    the sketch estimate within 5% (lgConfigK=12 → rsd ≈ 1.6%, 3σ ≈ 5%);
    the oracle computes the exact count and TRUE. Mergeability is
    unit-tested separately."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"),
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
    return agg.select(
        "event_type",
        "exact_users",
        (err <= 0.05).alias("within_bound"),
    ).orderBy("event_type")


@query(
    "unpivot_metrics",
    oracle="""
    SELECT l_returnflag, metric, CAST(value AS DOUBLE) AS value
    FROM (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
             CAST(COUNT(*) AS DOUBLE) AS n_rows
      FROM lineitem GROUP BY l_returnflag
    ) UNPIVOT (value FOR metric IN (sum_qty, sum_price, n_rows))
    ORDER BY l_returnflag, metric
    """,
    tags=("A8",),
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A8] Unpivot (melt) — wide metrics to long (metric, value) rows,
    the inverse of pivot and the shape reporting/metric stores want.
    ``DataFrame.unpivot`` is a narrow expression-level expansion (an
    Expand node), no shuffle beyond the aggregation that feeds it."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return (
        wide.unpivot(
            ids=["l_returnflag"],
            values=["sum_qty", "sum_price", "n_rows"],
            variableColumnName="metric",
            valueColumnName="value",
        )
        .orderBy("l_returnflag", "metric")
    )


@query(
    "approx_percentiles",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           TRUE AS p50_within_bound,
           TRUE AS p90_within_bound,
           TRUE AS p99_within_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A7",),
)
def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Approximate percentiles via the GK-style sketch behind
    ``percentile_approx`` — mergeable partial sketches shuffle instead of
    raw values, the scale path next to the exact ``percentiles`` query.
    Driver-checkable contract: the sketch guarantees rank error ≤
    n/accuracy, so each estimate must lie between the exact percentiles at
    q ± 2/accuracy; the query emits that bound check as a boolean and the
    oracle computes TRUE — rows/schema/hash compare deterministically and
    fail if the sketch ever violates its guarantee."""
    e = load_table(spark, sf_dir, "events")
    accuracy = 1000
    qs = [0.5, 0.9, 0.99]
    approx = e.groupBy("event_type").agg(
        F.percentile_approx("value", qs, accuracy).alias("approx"),
    )
    # rank check: rejoin the estimates (broadcast — one row per group) and
    # count elements strictly-below / at-or-below each estimate; the
    # estimate's occupied 0-based rank range [lt, le-1] must overlap the
    # target rank q*(n-1) within tolerance max(1, n/accuracy).
    j = e.join(F.broadcast(approx), "event_type")
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(len(qs)):
        est = F.element_at("approx", i + 1)
        aggs.append(F.sum((F.col("value") < est).cast("long")).alias(f"lt{i}"))
        aggs.append(F.sum((F.col("value") <= est).cast("long")).alias(f"le{i}"))
    counted = j.groupBy("event_type").agg(*aggs)
    # Spark's sketch targets 1-based rank q*n with rank error <= n/accuracy
    # (+1 slack for the floor/interpolation convention at tiny n). The
    # estimate occupies 1-based ranks [lt+1, le].
    bound = F.col("n").cast("double") / accuracy + 1.0
    cols = [F.col("event_type"), F.col("n")]
    for i, (q, name) in enumerate(zip(qs, ["p50", "p90", "p99"])):
        target = F.lit(q) * F.col("n").cast("double")
        ok = ((F.col(f"lt{i}") + 1).cast("double") - bound <= target) & (
            target <= F.col(f"le{i}").cast("double") + bound
        )
        cols.append(ok.alias(f"{name}_within_bound"))
    return counted.select(*cols).orderBy("event_type")


#: Hash-sample rate for the mergeable quantile sketch: keep rows whose
#: md5(event_id) starts with one of 2 of the 16 hex digits -> 1/8.
QSKETCH_KEEP = ("0", "1")


@query(
    "quantile_sketch_merge",
    oracle="""
    WITH sampled AS (
      SELECT event_type, value
      FROM events
      WHERE value IS NOT NULL
        AND substring(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
    ), sk AS (
      SELECT event_type,
             list(value ORDER BY value) AS sample,
             COUNT(*) AS sketch_size
      FROM sampled GROUP BY event_type
    )
    SELECT event_type, sketch_size,
           sample[CAST(FLOOR(0.5 * (sketch_size - 1)) AS INT) + 1] AS p50_est,
           sample[CAST(FLOOR(0.9 * (sketch_size - 1)) AS INT) + 1] AS p90_est,
           sample[CAST(FLOOR(0.99 * (sketch_size - 1)) AS INT) + 1] AS p99_est
    FROM sk
    ORDER BY event_type
    """,
    tags=("A7",),
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Mergeable quantile sketch — the deterministic sibling of
    ``approx_percentiles``. The sketch for any slice of the data is the
    subset of rows whose ``md5(event_id)`` falls in a fixed 1/8 hash
    range; merging sketches is set union, trivially associative and
    commutative (the property KLL buys with compaction, bought here with
    uniform hash sampling instead — KLL's size is O(log n) vs O(n/8)
    here, but its merge-order-dependent compactions cannot be replayed
    bit-exactly by a SQL oracle, and the sample rate is a knob: at 100 TB
    pick 1/2^k for a target sketch size and the plan is unchanged).
    Quantile estimates are order statistics of the sorted sample —
    actual data values, so the driver compare is byte-exact with no
    float-interpolation convention to match. Statistical rank error is
    O(sqrt(q(1-q)/m)) for sample size m; asserted against the exact
    percentiles in tests/test_extension_semantics.py.

    Plan shape: the sample predicate evaluates scan-side (an md5 over
    the key column, then a literal prefix test), so 7/8 of the data
    never reaches the shuffle; the per-group sorted sample builds via
    partial aggregation (collect_list merges map-side)."""
    e = load_table(spark, sf_dir, "events")
    # NULL filter is parity-critical: collect_list skips NULLs, DuckDB's
    # list() keeps them — drop NULL values identically in both engines
    sampled = e.filter(F.col("value").isNotNull()).filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin(*QSKETCH_KEEP)
    )
    sk = sampled.groupBy("event_type").agg(
        F.array_sort(F.collect_list("value")).alias("sample"),
        F.count(F.lit(1)).alias("sketch_size"),
    )
    def est(q: float):
        idx = F.floor(F.lit(q) * (F.col("sketch_size") - 1)).cast("int") + 1
        return F.element_at("sample", idx)
    return sk.select(
        "event_type",
        "sketch_size",
        est(0.5).alias("p50_est"),
        est(0.9).alias("p90_est"),
        est(0.99).alias("p99_est"),
    ).orderBy("event_type")


#: x-axis centering for the regression: events start 2024-01-01 UTC, so
#: centered epoch-seconds stay ~1e6 and every moment sum fits DECIMAL(38,6)
OLS_EPOCH0 = 1704067200  # epoch seconds of 2024-01-01T00:00:00Z


@query(
    "ols_regression",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    x AS (
      SELECT event_type,
             CAST(epoch_ms(ts) AS BIGINT) // 1000 - {OLS_EPOCH0} AS x, value AS y
      FROM events_us
    ), s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM x GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400, 6)
             AS slope_per_day,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    ORDER BY event_type
    """,
    tags=("A7",),
)
def ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Per-group ordinary-least-squares trend line — value regressed
    on event time (slope reported per DAY so the 1e-6-granularity round
    keeps signal), the "is this metric drifting" primitive of every
    monitoring stack. Closed-form from five exact decimal moment sums in
    ONE partial+final hash aggregation (same distributed-exactness recipe
    as ``correlation``: both engines derive the statistic from identical
    doubles, so the driver hash-compare is exact); x is centered
    epoch-seconds (events begin 2024-01-01) so x² sums stay well inside
    DECIMAL(38,6). No window, no second pass — at 100 TB this is a single
    shuffle carrying one 5-number row per (group, map task)."""
    e = load_table(spark, sf_dir, "events")
    x = (F.unix_millis(F.col("ts")) / F.lit(1000)).cast("long") - F.lit(OLS_EPOCH0)
    y = F.col("value")
    s = e.select("event_type", x.alias("x"), y.alias("y")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)")).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        "n",
        F.round(slope * 86400, 6).alias("slope_per_day"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy) * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("event_type")


@query(
    "key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT c,
             ROW_NUMBER() OVER (ORDER BY c, o_custkey) AS rn_asc,
             ROW_NUMBER() OVER (ORDER BY c DESC, o_custkey) AS rn_desc,
             COUNT(*) OVER () AS n_keys
      FROM counts
    )
    SELECT CAST(MAX(n_keys) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_count,
           CAST(MAX(CASE WHEN rn_asc = CAST(ceil(n_keys * 0.5) AS BIGINT)
                         THEN c END) AS BIGINT) AS p50_count,
           CAST(MAX(CASE WHEN rn_asc = CAST(ceil(n_keys * 0.99) AS BIGINT)
                         THEN c END) AS BIGINT) AS p99_count,
           CAST(SUM(CASE WHEN rn_desc <= CAST(ceil(n_keys * 0.01) AS BIGINT)
                         THEN c ELSE 0 END) AS DOUBLE)
             / SUM(c) AS top1pct_share,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS max_share
    FROM ranked
    """,
    tags=("A1", "A7"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/A7] Join-key skew diagnostic — the profile an operator reads
    BEFORE choosing a mitigation (`salted_agg` / `salted_join` / AQE
    skew-join thresholds): per-key row counts of a prospective shuffle
    key (orders by o_custkey), reduced to exact order statistics
    (p50/p99 by deterministic rank, ties broken by key), the heavy-hitter
    share of the top 1% of keys, and the single worst key's share.
    All counts are exact integers; the two shares are single double
    divisions of identical ints, engine-identical.

    Scale: the ranked pass runs over the AGGREGATED key-count table —
    one shuffle to count, then a sort of |keys| one-int rows, never the
    fact table; at extreme key cardinality the same profile swaps the
    exact ranks for approx_percentile without changing the contract.
    The window pair (asc + desc rank) evaluates in one window operator
    scan each over that reduced table."""
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    w_asc = Window.orderBy("c", "o_custkey")
    w_desc = Window.orderBy(F.col("c").desc(), "o_custkey")
    ranked = counts.select(
        "c",
        F.row_number().over(w_asc).alias("rn_asc"),
        F.row_number().over(w_desc).alias("rn_desc"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_keys"),
    )
    p50_rank = F.ceil(F.col("n_keys") * 0.5).cast("bigint")
    p99_rank = F.ceil(F.col("n_keys") * 0.99).cast("bigint")
    top1_rank = F.ceil(F.col("n_keys") * 0.01).cast("bigint")
    return ranked.agg(
        F.max("n_keys").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_count"),
        F.max(F.when(F.col("rn_asc") == p50_rank, F.col("c")))
        .cast("bigint")
        .alias("p50_count"),
        F.max(F.when(F.col("rn_asc") == p99_rank, F.col("c")))
        .cast("bigint")
        .alias("p99_count"),
        (
            F.sum(
                F.when(F.col("rn_desc") <= top1_rank, F.col("c")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("c")
        ).alias("top1pct_share"),
        (F.max("c").cast("double") / F.sum("c")).alias("max_share"),
    )


#: Numeric lineitem columns profiled by ``correlation_matrix``.
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "correlation_matrix",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {sums}
      FROM lineitem
    )
    {selects}
    """.format(
        sums=",\n             ".join(
            [
                f"CAST(SUM(CAST({c} AS DECIMAL(30,6))) AS DOUBLE) AS s_{i}"
                for i, c in enumerate(_CORR_COLS)
            ]
            + [
                f"CAST(SUM(CAST({_CORR_COLS[i]} * {_CORR_COLS[j]} AS DECIMAL(38,6))) AS DOUBLE) AS p_{i}_{j}"
                for i in range(len(_CORR_COLS))
                for j in range(i, len(_CORR_COLS))
            ]
        ),
        selects=" UNION ALL ".join(
            f"""SELECT '{_CORR_COLS[i]}' AS col_a, '{_CORR_COLS[j]}' AS col_b, n,
               CASE WHEN n * p_{i}_{i} - s_{i} * s_{i} > 0
                     AND n * p_{j}_{j} - s_{j} * s_{j} > 0
                    THEN ROUND((n * p_{i}_{j} - s_{i} * s_{j})
                      / (sqrt(n * p_{i}_{i} - s_{i} * s_{i})
                         * sqrt(n * p_{j}_{j} - s_{j} * s_{j})), 6)
               END AS corr
            FROM m"""
            for i in range(len(_CORR_COLS))
            for j in range(i + 1, len(_CORR_COLS))
        ),
    )
    + " ORDER BY col_a, col_b",
    tags=("A7",),
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Pairwise Pearson correlation matrix over the numeric lineitem
    columns — the EDA profiling step before any modeling, and the
    one-pass generalization of ``correlation`` (single pair, grouped):
    ONE aggregate computes all 4 column sums + 10 upper-triangle product
    sums (exact DECIMAL, per-row products being identical IEEE doubles),
    and the 6 off-diagonal pairs expand from that single 1-row frame —
    never k² scans. ROUND(…, 6) per the grouped-correlation precedent:
    the moments are exact, so cross-engine drift is zero and the round
    is presentation-grain.

    At 100 TB: one scan, one 15-number aggregate — map-side combine
    collapses everything; adding columns grows the aggregate quadratically
    but the scan cost not at all (the reason profilers batch this way)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = _CORR_COLS
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    aggs += [
        F.sum(F.col(c).cast("decimal(30,6)")).cast("double").alias(f"s_{i}")
        for i, c in enumerate(cols)
    ]
    aggs += [
        F.sum((F.col(cols[i]) * F.col(cols[j])).cast("decimal(38,6)"))
        .cast("double")
        .alias(f"p_{i}_{j}")
        for i in range(len(cols))
        for j in range(i, len(cols))
    ]
    m = li.agg(*aggs)
    pairs = None
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            n_d = F.col("n").cast("double")
            # zero-variance guard (see autocorrelation): constant column
            # on a regenerated fixture degrades to NULL, never an ANSI
            # DIVIDE_BY_ZERO
            vi = n_d * F.col(f"p_{i}_{i}") - F.col(f"s_{i}") * F.col(f"s_{i}")
            vj = n_d * F.col(f"p_{j}_{j}") - F.col(f"s_{j}") * F.col(f"s_{j}")
            corr = F.when(
                (vi > 0) & (vj > 0),
                F.round(
                    (n_d * F.col(f"p_{i}_{j}") - F.col(f"s_{i}") * F.col(f"s_{j}"))
                    / (F.sqrt(vi) * F.sqrt(vj)),
                    6,
                ),
            )
            row = m.select(
                F.lit(cols[i]).alias("col_a"),
                F.lit(cols[j]).alias("col_b"),
                "n",
                corr.alias("corr"),
            )
            pairs = row if pairs is None else pairs.unionAll(row)
    return pairs.orderBy("col_a", "col_b")


@query(
    "winsorized_stats",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE l.l_extendedprice < b.lo
                                    OR l.l_extendedprice > b.hi) AS BIGINT)
             AS n_clamped,
           CAST(SUM(CAST(least(greatest(l.l_extendedprice, b.lo), b.hi)
                         AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
             AS winsorized_mean,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(*) AS raw_mean
    FROM lineitem l JOIN b ON b.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    tags=("A7",),
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Winsorized mean per group — the outlier-robust center
    estimate (clamp to the group's [p5, p95] band, then average) that
    ``length_outliers``-style z-filters can't provide when the tail IS
    the signal. Two passes by construction: exact interpolated
    percentiles per group (broadcast back — 3 rows), then clamp +
    exact-decimal average in one aggregate, plus the clamped-row count
    as the audit column.

    Determinism: the percentile boundaries are identical doubles in
    both engines (same sorted multiset, same type-7 interpolation), so
    the clamp and the `<`/`>` audit comparisons act on identical
    values; the clamped values then round per-row into DECIMAL
    identically. No output rounding needed.

    At 100 TB: grouped exact percentiles are the stated sort-bound
    path (swap to ``approx_percentile`` bounds for sketch-grade at
    higher cardinality — same query shape); the second pass is a plain
    scan-agg with the 3-row bounds frame broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    b = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("hi"),
    ).toDF("b_flag", "lo", "hi")
    x = F.col("l_extendedprice")
    clamped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(b), F.col("l_returnflag") == F.col("b_flag"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count(F.when((x < F.col("lo")) | (x > F.col("hi")), 1))
            .cast("bigint")
            .alias("n_clamped"),
            (F.sum(clamped.cast("decimal(30,6)")).cast("double") / F.count(F.lit(1)))
            .alias("winsorized_mean"),
            davg("l_extendedprice").alias("raw_mean"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "value_histogram",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             MIN(l_extendedprice) AS lo,
             (MAX(l_extendedprice) - MIN(l_extendedprice)) / 20.0 AS w
      FROM lineitem GROUP BY l_returnflag
    ), binned AS (
      SELECT l.l_returnflag,
             CAST(CASE WHEN b.w = 0 THEN 0
                       ELSE least(floor((l.l_extendedprice - b.lo) / b.w), 19)
                  END AS INT) AS bin,
             b.lo, b.w
      FROM lineitem l JOIN b ON b.l_returnflag = l.l_returnflag
    )
    SELECT l_returnflag, bin,
           lo + bin * w AS bin_lo,
           lo + (bin + 1) * w AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM binned GROUP BY l_returnflag, bin, lo, w
    ORDER BY l_returnflag, bin
    """,
    tags=("A7", "A1"),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Equi-width value histogram (20 bins) per group — the
    distribution profile optimizers and data-quality dashboards build
    (where ``percentiles``/``customer_ltv_pareto`` give equi-DEPTH
    views, this gives equi-width: empty bins are visible as absent
    rows, which IS the skew signal). Bin edges derive from the group's
    exact min/max; bin assignment is ``least(floor((x − lo)/w), 19)``
    — every quantity an identical IEEE double in both engines, so a
    value exactly on a bin edge floors identically; the `least` clamps
    the x = max row into the last bin.

    Two passes by construction (bounds, then assign+count) with the
    3-row bounds frame broadcast back — same shape as
    ``winsorized_stats``, and the same single-pass sketch alternative
    (approx min/max) applies at higher group cardinality.

    At 100 TB: scan + broadcast + scan; the histogram frame is
    |groups|×20 rows. At a million groups the bounds frame stops being
    broadcast-sized and the join shuffles on the group key instead —
    both plans are the same query text, AQE picks."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    b = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("lo"),
        ((F.max("l_extendedprice") - F.min("l_extendedprice")) / 20.0).alias("w"),
    ).toDF("b_flag", "lo", "w")
    x = F.col("l_extendedprice")
    # zero-width guard: a constant group puts every row in bin 0 instead
    # of dividing by zero (ANSI raise) on a degenerate fixture draw
    bin_ = (
        F.when(F.col("w") == 0, F.lit(0))
        .otherwise(F.least(F.floor((x - F.col("lo")) / F.col("w")), F.lit(19)))
        .cast("int")
    )
    return (
        li.join(F.broadcast(b), F.col("l_returnflag") == F.col("b_flag"))
        .groupBy("l_returnflag", bin_.alias("bin"), "lo", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "l_returnflag",
            "bin",
            (F.col("lo") + F.col("bin") * F.col("w")).alias("bin_lo"),
            (F.col("lo") + (F.col("bin") + 1) * F.col("w")).alias("bin_hi"),
            "n",
        )
        .orderBy("l_returnflag", "bin")
    )


@query(
    "median_absolute_deviation",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(med.m), 4) AS median_price,
           ROUND(quantile_cont(abs(l.l_extendedprice - med.m), 0.5), 4) AS mad
    FROM lineitem l JOIN med ON med.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    tags=("A7",),
)
def median_absolute_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Median absolute deviation per group — the robust scale
    estimate (breakdown point 50%, vs 0% for stddev) that pairs with
    ``winsorized_stats``' robust center: MAD = median(|x − median(x)|),
    a two-level exact-percentile composition (the first pass's scalar
    feeds the second pass's derived column). Each |x − m| is an
    identical IEEE double in both engines (m itself is a deterministic
    interpolated percentile), so the second percentile runs on an
    identical multiset; ROUND-4 per the ``percentiles`` precedent.
    ``MAX(med.m)`` in the re-aggregate is exact passthrough (one value
    per group by construction).

    At 100 TB: same contract as every exact-percentile query — grouped
    sort-bound with the medians frame broadcast between passes;
    ``approx_percentile`` is the stated sketch swap at high
    cardinality."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("m")
    ).toDF("m_flag", "m")
    return (
        li.join(F.broadcast(med), F.col("l_returnflag") == F.col("m_flag"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.max("m"), 4).alias("median_price"),
            F.round(
                F.expr("percentile(abs(l_extendedprice - m), 0.5)"), 4
            ).alias("mad"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "benford_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM lineitem WHERE l_extendedprice >= 1
    ), counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT c.digit, c.n,
           CAST(c.n AS DOUBLE) / t.total AS observed_share,
           ROUND(log10(1.0 + 1.0 / c.digit), 6) AS benford_share,
           CAST(c.n AS DOUBLE) / t.total - ROUND(log10(1.0 + 1.0 / c.digit), 6)
             AS deviation
    FROM counts c, tot t
    ORDER BY c.digit
    """,
    tags=("A1", "F6"),
)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/F6] Benford's-law first-digit audit — the classic
    fabricated-numbers screen for financial data (naturally occurring
    amounts follow P(d) = log10(1 + 1/d); uniform or truncated
    generators don't): observed first-significant-digit shares vs the
    Benford expectation, with the deviation column as the audit
    signal. (The fixture's synthetic prices are roughly uniform, so
    this SHOWS a strong deviation — which is the tool working, not a
    fixture bug.)

    The first digit comes from the INTEGER-PART STRING
    (``substr(cast(floor(x) as bigint) as string), 1, 1)``) — never
    ``floor(log10 x)``, whose libm drift at exact powers of ten could
    flip a row's digit between engines. Counts are exact; shares are
    single divisions; the only transcendental (the Benford expectation
    on nine exact rationals) is rounded at 6 digits, far above any
    libm drift.

    At 100 TB: one scan, one 9-row aggregate — free at any scale."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") >= 1)
    digit = F.substring(
        F.floor(F.col("l_extendedprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = li.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    benford = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
    return (
        counts.crossJoin(F.broadcast(tot))  # 1-row literal-carry
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("observed_share"),
            benford.alias("benford_share"),
            (
                F.col("n").cast("double") / F.col("total") - benford
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


@query(
    "dominant_event_type",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ), t AS (
      SELECT user_id, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY user_id
    ), r AS (
      SELECT c.user_id, c.event_type, c.n, t.total,
             ROW_NUMBER() OVER (PARTITION BY c.user_id
                                ORDER BY c.n DESC, c.event_type) AS rn
      FROM c JOIN t ON t.user_id = c.user_id
    )
    SELECT user_id, event_type AS mode_event_type, n AS n_events,
           CAST(n AS DOUBLE) / total AS mode_share
    FROM r WHERE rn = 1 ORDER BY user_id
    """,
    tags=("A1", "W1"),
)
def dominant_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/W1] Mode aggregate with a deterministic tiebreak — each
    user's most frequent event type and its share of their activity:
    the "what kind of user is this" label, and the aggregate SQL
    famously lacks (MODE() exists in some dialects but with unspecified
    tie behavior — here ties break lexicographically on the type name,
    pinned identically in both engines via ROW_NUMBER over (count DESC,
    type)). Counts exact; the share is one division of exact ints.

    Shape: count at (user, type) grain, roll up the total at user
    grain, rank within user — all three share the user_id hash
    partitioning, so one Exchange serves the chain. At 100 TB on a
    user-bucketed lake the whole query is zero-Exchange."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = c.groupBy("user_id").agg(F.sum("n").cast("bigint").alias("total"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        c.join(t, "user_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("n_events"),
            (F.col("n").cast("double") / F.col("total")).alias("mode_share"),
        )
        .orderBy("user_id")
    )


@query(
    "sort_partition_balance",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
                           [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])
               AS qs
      FROM orders
    ), binned AS (
      SELECT CAST(
               CASE WHEN o.o_totalprice < b.qs[1] THEN 0
                    WHEN o.o_totalprice < b.qs[2] THEN 1
                    WHEN o.o_totalprice < b.qs[3] THEN 2
                    WHEN o.o_totalprice < b.qs[4] THEN 3
                    WHEN o.o_totalprice < b.qs[5] THEN 4
                    WHEN o.o_totalprice < b.qs[6] THEN 5
                    WHEN o.o_totalprice < b.qs[7] THEN 6
                    ELSE 7 END AS INT) AS part_id
      FROM orders o, b
    )
    SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM orders) AS row_share
    FROM binned GROUP BY part_id ORDER BY part_id
    """,
    tags=("O2", "A7"),
)
def sort_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O2/A7] Range-partitioner balance audit — the distribution a
    global sort's range partitioning would produce: 8 ranges bounded at
    the exact octile boundaries of the sort key, with each range's row
    count and share. A balanced partitioner shows ~0.125 per range;
    skewed shares are exactly the straggler-stage warning a 100 TB
    ORDER BY needs BEFORE running (Spark's own RangePartitioner samples
    — this audit computes the truth the sample approximates, which is
    what makes it the calibration/debugging tool for O2 at scale).

    Boundary compares run on exact interpolated percentiles — identical
    doubles in both engines (same sorted multiset, same type-7
    interpolation), so every row bins identically; strict `<` on each
    upper bound makes the ranges half-open like the partitioner's.
    Counts exact, shares single divisions.

    At 100 TB: exact octiles are the audit path (sort-bound);
    ``approx_percentiles`` bounds give the sketch-grade audit at a scan
    — same query shape, stated trade."""
    o = load_table(spark, sf_dir, "orders")
    qs = o.agg(
        F.expr(
            "percentile(o_totalprice,"
            " array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))"
        ).alias("qs"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    x = F.col("o_totalprice")
    part = F.lit(7)
    for i in range(6, -1, -1):
        part = F.when(x < F.element_at("qs", i + 1), i).otherwise(part)
    return (
        o.crossJoin(F.broadcast(qs))  # 1-row literal-carry
        .groupBy(part.cast("int").alias("part_id"), "n_total")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            "part_id",
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("n_total")).alias("row_share"),
        )
        .orderBy("part_id")
    )
