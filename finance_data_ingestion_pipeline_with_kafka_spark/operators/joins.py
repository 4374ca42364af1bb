"""Joins (SURVEY §2.3 J1–J7).

Scale notes baked into each query:

* Small dims (region 5 rows, nation 25, supplier ~10/SF-unit) are wrapped
  in ``F.broadcast`` — at 100 TB these joins must NOT shuffle the fact side.
* Fact-fact joins (orders ⋈ lineitem) shuffle on the join key; AQE handles
  skew splitting. Both tables would be bucketed by orderkey in a real lake
  (see sources/lake.py) to make this a shuffle-free zipped join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.core import dsum
from ..registry import query, sized, tiny_static


@query(
    "top_revenue_orders",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("J1", "A1", "O4"),
    bench=True,
    # static AQE-off plan in the tiny regime, where the fn below steers
    # the broadcast itself; plain AQE above it, where the runtime
    # shuffle→broadcast conversion is load-bearing (measurements in the
    # registry module docstring)
    policy=tiny_static,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1] TPC-H-Q3-shaped fact⋈fact⋈dim join + grouped agg + top-k.
    Filters sit before the joins so Catalyst pushes them into the scans.

    Build-side steering (r17, guide §3.1): without CBO stats Catalyst
    sizes the filtered customer⋈orders join by inflated estimate and
    instead BROADCASTS the projected lineitem scan (its width-scaled
    file estimate lands under the 10 MB threshold at sf0.1) — 300k+
    filtered fact rows collected to the driver and hash-built on every
    run, while 30k join rows stream past them. In the ``tiny_input``
    regime the fn hints the customer⋈orders side explicitly so the fact
    table is always the probe side; above the threshold the hint
    vanishes and AQE's runtime exact-bytes conversion makes the call
    (scale-safe: the hint can never force an unbounded broadcast)."""
    from ..registry import tiny_input

    # the filtered customer side is a small fraction of an already-small
    # dim → broadcast it so only the orders⋈lineitem shuffle remains
    c = F.broadcast(
        load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    co = c.join(o, c["c_custkey"] == o["o_custkey"])
    if tiny_input(sf_dir):
        co = F.broadcast(co)
    return (
        co.join(l, l["l_orderkey"] == co["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "broadcast_dim_join",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("J2", "A1"),
    bench=True,
    policy=sized,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J2] Fact ⋈ broadcast dims — the 101-row symbol-table pattern
    (``stock_code_constant.py:1-14``). Explicit ``broadcast()`` so the fact
    table never shuffles for the dims at any scale."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("sum_acctbal"),
        )
        # presentation sort dropped (order-insensitive compare)
    )


@query(
    "outer_join_counts",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(30,6))), 0) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY c.c_custkey
    """,
    tags=("J3", "A1"),
)
def outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3] Left outer join keeping zero-order customers (bars without
    trades in a minute, SURVEY §2.3)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy(c["c_custkey"], c["c_name"])
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    ORDER BY c_custkey
    """,
    tags=("J4",),
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4] Left semi join — "tickers that traded today"."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    tags=("J4",),
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4] Left anti join — "bars with no trades"."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "cross_join_pairs",
    oracle="""
    SELECT a.r_name AS region_a, b.r_name AS region_b
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey < b.r_regionkey
    ORDER BY region_a, region_b
    """,
    tags=("J7",),
)
def cross_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J7] Guarded cross join (pairwise-correlation shape) — only ever on
    a small broadcast-size relation; the pairwise-ticker use case at scale
    is bounded by the symbol universe (~10^2..10^4 rows), never the facts."""
    r = load_table(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("key_a"), F.col("r_name").alias("region_a"))
    b = r.select(F.col("r_regionkey").alias("key_b"), F.col("r_name").alias("region_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("key_a") < F.col("key_b"))
        .select("region_a", "region_b")
        .orderBy("region_a", "region_b")
    )


@query(
    "range_join",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_totalprice, l.l_extendedprice
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
    ORDER BY o_orderkey, l_linenumber
    """,
    tags=("J6",),
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J6] Interval/theta join turned equi+range: the equi key keeps it a
    hash join; the range predicate is applied as a post-join filter —
    "trades within the bar's minute" (SURVEY §2.3 J6)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o["o_orderkey"] == l["l_orderkey"])
            & (l["l_shipdate"] >= o["o_orderdate"])
            & (l["l_shipdate"] <= o["o_orderdate"] + F.expr("INTERVAL 90 DAYS")),
        )
        .select("o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice")
        .orderBy("o_orderkey", "l_linenumber")
    )


@query(
    "regional_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("J1", "J2", "A1"),
    bench=True,
    policy=sized,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/J2] TPC-H-Q5-shaped 6-way join: local-supplier revenue per
    nation in one region.

    Join order is written selective-first: the region→nation broadcast
    filters CUSTOMER (and supplier) down to the one region (~1/5 of rows)
    BEFORE the two fact shuffles, so customer⋈orders and ⋈lineitem carry
    only region-local rows. Catalyst does not reorder shuffle joins
    without CBO stats, so the as-written order IS the executed order —
    at 100 TB the difference is shuffling 20 TB instead of 100 TB."""
    from ..registry import tiny_input

    # ASIA nations: 5 rows — broadcast twice (to customer and supplier)
    n_asia = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n_asia), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    # supplier broadcasts whole: the in-join s_nationkey = c_nationkey
    # condition already restricts matches to ASIA suppliers, and a
    # pre-filter semi-join would add a build stage for no shuffle savings
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    co = c.join(o, c["c_custkey"] == o["o_custkey"])
    # Build-side steering (r17, guide §3.1), same defect as
    # top_revenue_orders: Catalyst's static estimator inflates the
    # customer⋈orders side past lineitem's width-scaled file estimate
    # and BROADCASTS the 600k-row fact table (driver collect + hash
    # build per run, plan-verified). Tiny regime: hint the co side so
    # lineitem probes; above the threshold the hint vanishes and AQE
    # governs. Interleaved same-JVM A/B at sf0.1 (noop, min/med of 5):
    # 0.495/0.544 → 0.266/0.296.
    if tiny_input(sf_dir):
        co = F.broadcast(co)
    return (
        co.join(l, l["l_orderkey"] == co["o_orderkey"])
        .join(s, (l["l_suppkey"] == s["s_suppkey"]) & (s["s_nationkey"] == co["c_nationkey"]))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        # presentation sort dropped (order-insensitive compare)
    )


@query(
    "order_count_histogram",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
    tags=("J3", "A1"),
)
def order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3/A1] TPC-H-Q13 shape: aggregation of an aggregation (customer
    order-count distribution), outer join keeping zero-order customers."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


@query(
    "part_supplier_stats",
    oracle="""
    SELECT p.p_brand,
           COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS total_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 20
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    tags=("J1", "A4"),
)
def part_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/A4] Fact ⋈ mid-size dim with distinct-count per group (TPC-H
    Q16 flavor). The part dim fits broadcast at every SF; at lake scale it
    would be bucketed by p_partkey alongside lineitem."""
    l = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 20))
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            dsum("l_quantity").alias("total_qty"),
        )
        .orderBy("p_brand")
    )


@query(
    "null_safe_join",
    oracle="""
    WITH a AS (SELECT DISTINCT CASE WHEN o_orderstatus = 'P' THEN NULL
                                    ELSE o_orderstatus END AS status_key
               FROM orders),
         b AS (SELECT DISTINCT CASE WHEN o_orderstatus = 'P' THEN NULL
                                    ELSE o_orderstatus END AS status_key
               FROM orders)
    SELECT a.status_key AS status_key, COUNT(*) AS n_matches
    FROM a JOIN b ON a.status_key IS NOT DISTINCT FROM b.status_key
    GROUP BY a.status_key
    ORDER BY a.status_key NULLS FIRST
    """,
    tags=("J1",),
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1] Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM):
    NULL keys match each other instead of dropping out — the semantics
    needed when a join key is legitimately absent. Catalyst still plans
    a hash join (null-safe equality is hashable)."""
    o = load_table(spark, sf_dir, "orders")
    key = F.when(F.col("o_orderstatus") == "P", None).otherwise(F.col("o_orderstatus"))
    a = o.select(key.alias("status_key")).distinct()
    b = o.select(key.alias("status_key")).distinct()
    return (
        a.join(b, a["status_key"].eqNullSafe(b["status_key"]))
        .groupBy(a["status_key"])
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy(F.col("status_key").asc_nulls_first())
    )


@query(
    "correlated_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND c_acctbal > 9000
    ORDER BY c_custkey
    """,
    tags=("J4",),
)
def correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4] Correlated NOT EXISTS via spark.sql — Catalyst decorrelates
    the subquery into the same anti-join the DataFrame form produces;
    this pins the SQL-subquery entry path."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_ce_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_ce_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM _ce_customer c
        WHERE NOT EXISTS (SELECT 1 FROM _ce_orders o WHERE o.o_custkey = c.c_custkey)
          AND c_acctbal > 9000
        ORDER BY c_custkey
        """
    )


@query(
    "scalar_subquery",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price
    FROM orders o
    WHERE o_totalprice > 3 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
                                     / COUNT(*)
                              FROM orders i WHERE i.o_custkey = o.o_custkey)
    ORDER BY o_orderkey
    """,
    tags=("J4", "A1"),
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4/A1] Correlated scalar subquery (orders 3x above the customer's
    own average) — decorrelated by Catalyst into an aggregate + join;
    decimal-accumulated average keeps both engines bit-identical."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_ss_orders")
    return spark.sql(
        """
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price
        FROM _ss_orders o
        WHERE o_totalprice > 3 * (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
            FROM _ss_orders i WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey
        """
    )


@query(
    "min_cost_supplier",
    oracle="""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             ROUND(l_extendedprice / l_quantity, 6) AS unit_price
      FROM lineitem
    ), best AS (
      SELECT l_partkey, l_suppkey, unit_price
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
                                     ORDER BY unit_price, l_suppkey) AS rn
        FROM unit
      ) WHERE rn = 1
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name AS nation,
           b.unit_price AS best_unit_price
    FROM best b
    JOIN part p     ON b.l_partkey = p.p_partkey AND p.p_size >= 40
    JOIN supplier s ON b.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    ORDER BY p_partkey
    """,
    tags=("J1", "J2", "W1"),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/J2] TPC-H-Q2-shaped "cheapest supplier per part": per-part
    argmin over unit price (window with a rounded-price + suppkey total
    order — ULP-stable across engines), then enrich through broadcast
    part/supplier/nation dims. The window shuffles lineitem once on
    l_partkey; every dim join is broadcast so the fact side never
    reshuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = li.select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias("unit_price"),
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = (
        unit.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    p = F.broadcast(load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 40))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        best.join(p, best["l_partkey"] == p["p_partkey"])
        .join(s, best["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("unit_price").alias("best_unit_price"),
        )
        .orderBy("p_partkey")
    )


def _rev_quadrant(a: DataFrame, b: DataFrame) -> DataFrame:
    """Per-customer partial aggregate of one quadrant of the
    orders ⋈ lineitem cross-split — revenue kept in exact DECIMAL (not
    yet double) so partials merge associatively in
    ``incremental_join_view``."""
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(30,6)"
    )
    return (
        a.join(b, a["o_orderkey"] == b["l_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum(rev).alias("rev_dec"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "incremental_join_view",
    oracle="""
    SELECT o_custkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
                AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    tags=("J1", "A1"),
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/A1/scale] Delta maintenance of a JOIN-aggregate view — the
    identity every incremental view engine rests on:
    ``(A0 ∪ dA) ⋈ (B0 ∪ dB) = A0⋈B0 ∪ A0⋈dB ∪ dA⋈B0 ∪ dA⋈dB``.
    Orders and lineitem are split independently (different moduli on
    different keys, so all three delta quadrants are non-empty and a
    joined pair can land in any of the four), each quadrant aggregates
    to per-customer partial state (decimal revenue + count —
    associative), and the four partials merge by one more sum. The
    ORACLE is the direct full recompute, so the driver's hash compare
    is the proof that state + delta terms == recompute, bitwise. This
    extends ``incremental_ohlcv``'s single-table maintenance to the
    join case, where the delta rule is multiplicative, not just
    additive.

    Scale: at 100 TB the ``A0⋈B0`` quadrant is the STORED view state —
    never recomputed (it is built here only to construct the proof);
    nightly cost is the three delta quadrants, each proportional to
    |delta| when both tables are bucketed on the join key (the lake
    writer's ``write_bucketed`` layout), and the merge shuffles only
    O(|customers|) state rows. Structured Streaming's stream-stream
    join + aggregation maintains exactly this decomposition in its
    state store."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    a_delta = F.col("o_orderkey") % 5 == 4
    b_delta = (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 7 == 3
    a0, da = o.filter(~a_delta), o.filter(a_delta)
    b0, db = li.filter(~b_delta), li.filter(b_delta)
    partials = (
        _rev_quadrant(a0, b0)  # the stored view state
        .unionByName(_rev_quadrant(a0, db))
        .unionByName(_rev_quadrant(da, b0))
        .unionByName(_rev_quadrant(da, db))
    )
    return (
        partials.groupBy("o_custkey")
        .agg(
            F.sum("rev_dec").cast("double").alias("revenue"),
            F.sum("n_items").alias("n_items"),
        )
        .orderBy("o_custkey")
    )


#: Salt fan-out for the skew-resistant join demo: each dim row is
#: replicated N_SALTS times; each fact row picks one deterministic salt.
N_SALTS = 8


@query(
    "salted_skew_join",
    oracle="""
    SELECT s.s_suppkey, s.s_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
                AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY s.s_suppkey
    """,
    tags=("J1",),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/scale] Skew-resistant salted join — the standard remedy when
    one join key carries a disproportionate share of a 100 TB fact table
    and a single reducer becomes the stage's straggler: the fact side
    gets a deterministic salt in [0, N_SALTS), the dim side is
    replicated once per salt (an N_SALTS-row literal explode — dim cost
    × 8, reducer spread × 8 on every hot key), and the join runs on
    (key, salt) so each hot key's rows land on N_SALTS reducers instead
    of one. The ORACLE is the PLAIN unsalted join-aggregate — salting
    is invisible to semantics, and the hash compare proves it (the
    decimal revenue accumulation is order-free, so even the changed
    reduction order cannot show through).

    The salt is ``(l_orderkey·31 + l_linenumber) % N_SALTS`` —
    deterministic (rerun-stable, unlike ``rand()``-salting) and
    uniform across a key's rows, which is what spreads the hot key. At
    this SF Spark broadcasts the tiny dim side anyway (salting is then
    harmless); the unit test disables broadcast to pin that the salted
    shuffle-join plan ALSO produces oracle-identical results — the
    regime the pattern exists for. AQE's skew-join split handles
    sort-merge skew adaptively; explicit salting remains the portable
    fix when AQE's thresholds don't trigger or the join is hash-based."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_extendedprice",
        "l_discount",
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    fact = li.withColumn(
        "salt",
        (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % N_SALTS,
    )
    dim = sup.select(
        "s_suppkey",
        "s_name",
        F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)])).alias("salt"),
    ).withColumn("salt", F.col("salt").cast("long"))
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(30,6)"
    )
    return (
        fact.join(
            dim,
            (fact["l_suppkey"] == dim["s_suppkey"])
            & (fact["salt"] == dim["salt"]),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
        .orderBy("s_suppkey")
    )
