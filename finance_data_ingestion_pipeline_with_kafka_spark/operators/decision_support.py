"""Decision-support parity queries — the classic TPC-H report shapes the
rest of the catalog doesn't already cover (SURVEY §2.4 A1, §2.3 J2/J4,
§2.6 O4).

The reference's analytics layer promises ad-hoc EDA over the ingested
lake (``scripts/spark_streaming_processing/yfinance_processing.py:30``
stub); a user running decision-support reports today needs the canonical
shapes below, each of which exercises a distinct plan pattern:

* global-threshold HAVING (Q11): an aggregate filtered against a scalar
  computed over the WHOLE input — the "important subset by share" report.
* conditional-aggregate share (Q14): numerator and denominator computed
  in one pass over one scan, never two scans of the fact table.
* tie-exact argmax + join-back (Q15): "the top X" with ties preserved —
  a MAX equality filter, never ``LIMIT 1`` (which is nondeterministic
  under ties and wrong the moment two groups draw equal).

Determinism: every money sum accumulates in exact ``DECIMAL(30,6)``
(order-independent under partial aggregation); threshold/argmax
comparisons happen on the DECIMAL values themselves — never on derived
doubles, whose last-ULP could flip a boundary row between engines —
and only the output columns cast to DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.core import DEC, dsum, dsum_expr
from ..registry import query

_REV_DEC_SQL = "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))"


def _rev_dec() -> F.Column:
    """Exact revenue accumulator used for COMPARISONS (threshold, argmax):
    the per-row product is a deterministic IEEE double, rounded half-up at
    6 digits into DECIMAL and summed exactly — bit-identical across
    engines and partitionings, so `>` / `=` on it can never straddle a ULP.
    (A function, not a module constant: Column construction needs an
    active SparkContext, which doesn't exist at import time.)"""
    return F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))


@query(
    "important_parts",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey, {_REV_DEC_SQL} AS rev_dec
      FROM lineitem GROUP BY l_partkey
    ), tot AS (SELECT SUM(rev_dec) AS total_dec FROM rev)
    SELECT r.l_partkey AS p_partkey, p.p_name, p.p_type,
           CAST(r.rev_dec AS DOUBLE) AS revenue,
           CAST(r.rev_dec AS DOUBLE) / CAST(t.total_dec AS DOUBLE) AS revenue_share
    FROM rev r, tot t
    JOIN part p ON p.p_partkey = r.l_partkey
    WHERE r.rev_dec * 1000 > t.total_dec
    ORDER BY revenue DESC, p_partkey
    """,
    tags=("A1", "J4", "J2"),
)
def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/J4] TPC-H Q11 shape — parts whose revenue exceeds a fraction
    (0.1%) of GLOBAL revenue: a grouped aggregate HAVING-filtered against
    a scalar subquery over the whole fact table. The canonical
    "concentration report" (which SKUs matter), and the canonical
    global-threshold plan: the total is a one-row aggregate broadcast
    back over the per-part aggregate (literal-carry cross join, not a
    cartesian). Lazy evaluation makes the total a second plan branch —
    the fact scan appears once per branch, with identical canonical
    exchanges eligible for runtime reuse; a deployment that persists
    the per-part aggregate (materialized view) computes the total from
    it and scans the fact table once. Q11's global scalar is inherently
    a second pass in every engine that doesn't materialize.

    The threshold compare runs on the exact DECIMAL sums
    (``rev_dec * 1000 > total_dec`` — integer-exact at scale 6), never
    on doubles: a part sitting exactly at the boundary classifies
    identically in both engines by construction. Output doubles are
    single casts/divisions of those exact values.

    At 100 TB: each branch is one shuffle on l_partkey (the natural
    bucketing key), a one-row total, and a broadcast join to the part
    dim; with the per-part aggregate maintained as a table the
    threshold costs one extra reduce of it, not a fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_type")
    rev = li.groupBy("l_partkey").agg(_rev_dec().alias("rev_dec"))
    tot = rev.agg(F.sum("rev_dec").alias("total_dec"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .filter(F.col("rev_dec") * 1000 > F.col("total_dec"))
        .join(F.broadcast(p), rev["l_partkey"] == p["p_partkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "p_type",
            F.col("rev_dec").cast("double").alias("revenue"),
            (
                F.col("rev_dec").cast("double") / F.col("total_dec").cast("double")
            ).alias("revenue_share"),
        )
        .orderBy(F.desc("revenue"), "p_partkey")
    )


@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           {dsum_expr("CASE WHEN p.p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS promo_revenue,
           {dsum_expr("l_extendedprice * (1 - l_discount)")} AS total_revenue,
           CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE)
             / CAST({_REV_DEC_SQL} AS DOUBLE) AS promo_share
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY ship_month
    ORDER BY ship_month
    """,
    tags=("A1", "J2"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/J2] TPC-H Q14 shape — monthly share of revenue from PROMO
    parts: numerator (conditional) and denominator (total) aggregated in
    the SAME pass over the SAME scan, the pattern that replaces the
    naive two-scan-and-join formulation. Lineitem joins the part dim by
    broadcast (plan family pinned in tests/test_plans.py for the dim
    joins), then one shuffle on ship_month.

    Both sums accumulate in exact DECIMAL; the share is one double
    division of two exactly-determined values. The CASE arm yields the
    identical per-row IEEE product in both engines, so numerator rounding
    is per-row identical too.

    At 100 TB: part is the broadcast side; months are ~100 groups so the
    final aggregate is map-side-combined down to nothing — the scan
    dominates, as it should."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return (
        joined.groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.sum(promo.cast(DEC)).alias("promo_dec"),
            F.sum(rev.cast(DEC)).alias("total_dec"),
        )
        .select(
            "ship_month",
            F.col("promo_dec").cast("double").alias("promo_revenue"),
            F.col("total_dec").cast("double").alias("total_revenue"),
            (
                F.col("promo_dec").cast("double") / F.col("total_dec").cast("double")
            ).alias("promo_share"),
        )
        .orderBy("ship_month")
    )


@query(
    "top_supplier_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {_REV_DEC_SQL} AS rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.rev_dec AS DOUBLE) AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_dec = (SELECT MAX(rev_dec) FROM rev)
    ORDER BY s.s_suppkey
    """,
    tags=("A1", "J4", "O4"),
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/O4] TPC-H Q15 shape — the supplier(s) with maximum revenue in
    a quarter, TIES PRESERVED: the argmax is an equality filter against
    a one-row MAX aggregate (broadcast literal-carry), never ``LIMIT 1``
    — under a revenue tie LIMIT 1 returns an arbitrary supplier and
    changes run-to-run; the MAX-equality form returns every winner,
    deterministically. The quarter filter pushes down into the parquet
    scan (PushedFilters on l_shipdate).

    The equality compares the exact DECIMAL revenue sums — two suppliers
    tie iff their 6-digit-exact revenues are identical, the same
    criterion in both engines. Output double is a final cast.

    At 100 TB: the filter prunes the scan to one quarter of the lake
    (partition pruning on a date-partitioned layout), one shuffle on
    l_suppkey, a one-row max, and a broadcast join to the supplier dim."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(_rev_dec().alias("rev_dec"))
    )
    best = rev.agg(F.max("rev_dec").alias("max_dec"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("rev_dec") == F.col("max_dec"))
        .join(F.broadcast(s), rev["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "large_volume_customers",
    oracle="""
    WITH q AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(30,6))) AS qty_dec
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(q.qty_dec AS DOUBLE) AS total_qty
    FROM q
    JOIN orders o ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE q.qty_dec > 300
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
    tags=("A1", "J1", "O4"),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/J1] TPC-H Q18 shape — the "large volume customer" report:
    orders whose TOTAL lineitem quantity exceeds a threshold, joined back
    to order header and customer. The distinguishing plan pattern is
    aggregate-then-join-back: the HAVING filter runs on the aggregated
    frame BEFORE any join, so the (rare) qualifying orderkeys — not the
    whole fact table — drive the joins; AQE's runtime broadcast turns
    the survivors into the build side automatically.

    Quantity accumulates in exact DECIMAL and the threshold compares the
    DECIMAL (quantities are integral doubles, so >300 is unambiguous,
    but the discipline costs nothing). At 100 TB: one shuffle on
    l_orderkey (co-located with a bucketed lake), then two joins whose
    probe side is the filtered survivor set — orders of magnitude below
    the input."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    q = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty_dec"))
        .filter(F.col("qty_dec") > 300)
    )
    return (
        q.join(o, q["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


@query(
    "suppliers_kept_waiting",
    oracle="""
    WITH sm AS (
      SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS smax
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM sm s1 JOIN supplier s ON s.s_suppkey = s1.l_suppkey
    WHERE EXISTS (
      SELECT 1 FROM sm s2
      WHERE s2.l_orderkey = s1.l_orderkey AND s2.l_suppkey <> s1.l_suppkey
    ) AND NOT EXISTS (
      SELECT 1 FROM sm s3
      WHERE s3.l_orderkey = s1.l_orderkey AND s3.l_suppkey <> s1.l_suppkey
        AND s3.smax > s1.smax
    )
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s.s_suppkey
    """,
    tags=("J4", "W1", "A1"),
)
def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4/W1] TPC-H Q21 shape — "which supplier held the order up":
    for every multi-supplier order, blame the supplier(s) whose latest
    line shipped last (ties blame both — strict-inequality NOT EXISTS,
    deterministic), and count blamed orders per supplier. The oracle
    keeps the textbook double-correlated EXISTS / NOT-EXISTS form; the
    Spark plan re-expresses it as ONE window pass over the per-(order,
    supplier) aggregate — count and max over the order partition — which
    is the scale-correct formulation: the self-join-twice EXISTS plan
    touches the fact table three times, the window form once.

    Equivalence argument (docstring IS the proof sketch): EXISTS(other
    supplier) ≡ per-order supplier-count ≥ 2; NOT EXISTS(other supplier
    shipped later) ≡ this supplier's max shipdate equals the order's
    overall max (ties agree because both sides use strict >). Timestamp
    equality is exact in both engines.

    At 100 TB: shuffle on (orderkey, suppkey) for the inner aggregate,
    then the window runs on the orderkey-partitioned aggregate (~4 rows
    per order); the blame count is a tiny per-supplier aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sm = li.groupBy("l_orderkey", "l_suppkey").agg(F.max("l_shipdate").alias("smax"))
    w = Window.partitionBy("l_orderkey")
    blamed = (
        sm.select(
            "l_suppkey",
            "smax",
            F.count(F.lit(1)).over(w).alias("n_supp"),
            F.max("smax").over(w).alias("omax"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("smax") == F.col("omax")))
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
    )


@query(
    "dormant_high_balance",
    oracle="""
    WITH pos AS (
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer WHERE c_acctbal > 0
    ), stats AS (
      SELECT CAST(COUNT(*) AS DECIMAL(18,0)) AS n_pos,
             SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS total_dec
      FROM pos
    )
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(p.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
    FROM pos p, stats t
    JOIN nation n ON n.n_nationkey = p.c_nationkey
    WHERE CAST(p.c_acctbal AS DECIMAL(18,6)) * t.n_pos > t.total_dec
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = p.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    tags=("J4", "A1"),
)
def dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4/A1] TPC-H Q22 shape — "positive-balance customers gone quiet":
    customers whose balance exceeds the average positive balance AND who
    placed no order since 2000-01-01, reported per nation. Two classic
    sub-patterns composed: a scalar-subquery threshold (global average,
    one-row broadcast) and an ANTI join against the recent slice of the
    fact table (the date filter pushes into the orders scan, so the anti
    build side is the recent orders only, not seven years of history).

    The above-average compare is decimal-exact: ``bal_dec * n_pos >
    total_dec`` multiplies the 6-digit-exact balance by the exact count
    — both sides are exact fixed-point values, so a customer sitting
    precisely at the average classifies identically in both engines
    (the double-division formulation could flip on the last ULP).

    At 100 TB: customer scans once for the positive slice; the stats row
    broadcasts; the anti join shuffles on custkey (or stays zero-Exchange
    on a custkey-bucketed lake); nation is a broadcast dim."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pos = c.filter(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_nationkey", F.col("c_acctbal").cast("decimal(18,6)").alias("bal_dec")
    )
    stats = pos.agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n_pos"),
        F.sum("bal_dec").alias("total_dec"),
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        pos.crossJoin(F.broadcast(stats))
        .filter(F.col("bal_dec") * F.col("n_pos") > F.col("total_dec"))
        .join(recent, pos["c_custkey"] == recent["o_custkey"], "left_anti")
        .join(F.broadcast(n), pos["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("bal_dec").cast("double").alias("total_acctbal"),
        )
        .orderBy("n_name")
    )


@query(
    "nation_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST(CASE WHEN r.r_name = 'ASIA'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE)
             AS asia_revenue,
           {dsum_expr("l.l_extendedprice * (1 - l.l_discount)")} AS total_revenue,
           CAST(SUM(CAST(CASE WHEN r.r_name = 'ASIA'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(30,6))) AS DOUBLE) AS asia_share
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY order_year
    ORDER BY order_year
    """,
    tags=("A1", "J1", "J2"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/J1/J2] TPC-H Q8 shape — a region's market share of revenue by
    order year: the multi-hop dim chain (lineitem → supplier → nation →
    region) feeding a conditional-aggregate share, with the order header
    joined only for its year. The share pattern is the same one-pass
    numerator/denominator as ``promo_revenue_share`` but the condition
    comes from a SNOWFLAKED dim three hops away — the plan exercise is
    that all three dim hops broadcast (supplier→nation→region collapses
    into one broadcast build of the fully-joined tiny chain), leaving
    the fact scan with one shuffle on the year.

    Exactness as elsewhere: decimal accumulation on identically-rounded
    per-row doubles, one double division at the end.

    At 100 TB: orders↔lineitem is the only fact-fact join; on an
    orderkey-bucketed lake it's zero-Exchange, and AQE converts the dim
    chain to broadcasts from exact runtime sizes."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dims = s.join(n, s["s_nationkey"] == n["n_nationkey"]).join(
        r, n["n_regionkey"] == r["r_regionkey"]
    ).select("s_suppkey", "r_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    asia = F.when(F.col("r_name") == "ASIA", rev).otherwise(F.lit(0.0))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.sum(asia.cast(DEC)).alias("asia_dec"),
            F.sum(rev.cast(DEC)).alias("total_dec"),
        )
        .select(
            "order_year",
            F.col("asia_dec").cast("double").alias("asia_revenue"),
            F.col("total_dec").cast("double").alias("total_revenue"),
            (
                F.col("asia_dec").cast("double") / F.col("total_dec").cast("double")
            ).alias("asia_share"),
        )
        .orderBy("order_year")
    )


@query(
    "disjunctive_predicate_join",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           {dsum_expr("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
    tags=("J1", "P8", "A1"),
)
def disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/P8] TPC-H Q19 shape — an equi-join whose residual is an
    OR-of-ANDs mixing columns from BOTH sides: the disjunctive-predicate
    pattern that separates engines which evaluate the OR as a residual
    on the joined rows (correct, one pass) from those that union three
    separate join plans (three fact scans). Spark keeps the equi-join on
    partkey and applies the disjunction as a post-join filter; Catalyst
    additionally derives the IMPLIED single-side predicates (brand IN
    (...) on part, quantity bounds on lineitem) and pushes them into
    both scans — the scan-level win without any manual rewrite.

    Single-row output (count + decimal-exact revenue): the aggregate is
    fully map-side-combined. At 100 TB the pushed brand filter makes
    part a tiny broadcast build side and the quantity envelope prunes
    lineitem row groups via parquet min/max stats."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((br == "Brand#1") & sz.between(1, 15) & (q >= 1) & (q <= 20))
        | ((br == "Brand#2") & sz.between(10, 30) & (q >= 10) & (q <= 35))
        | ((br == "Brand#3") & sz.between(20, 50) & (q >= 20) & (q <= 50))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(rev.cast(DEC)).cast("double").alias("revenue"),
        )
    )


@query(
    "order_priority_check",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("J4", "A1"),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4/A1] TPC-H Q4 shape — order counts per priority for orders
    with at least one line shipped after the order date (the fixture has
    no commitdate column; shipdate-after-orderdate is the same
    correlated-EXISTS-with-non-equi-condition pattern): a LEFT SEMI join
    whose condition mixes an equi key with a cross-table inequality,
    then a tiny grouped count. The semi join is the point — an inner
    join would double-count orders with several qualifying lines and
    need a distinct; the semi join emits each order at most once by
    construction (the existing plan pin ``test_semi_join_not_inner``
    covers this family).

    At 100 TB: the quarter filter prunes the orders scan; the semi join
    shuffles on orderkey (zero-Exchange on an orderkey-bucketed lake)
    and keeps only the 5-row priority aggregate afterwards."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    quarter = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    qualified = quarter.join(
        li,
        (quarter["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > quarter["o_orderdate"]),
        "left_semi",
    )
    return (
        qualified.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "two_nation_volume",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
           {dsum_expr("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE (ns.n_name = 'NATION_0' AND nc.n_name = 'NATION_1')
       OR (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_0')
    GROUP BY supp_nation, cust_nation, ship_year
    ORDER BY supp_nation, cust_nation, ship_year
    """,
    tags=("J1", "J2", "A1"),
)
def two_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/J2/A1] TPC-H Q7 shape — bilateral trade volume between two
    nations by ship year: the two-sided dim-chain join (supplier nation
    AND customer nation) with a symmetric OR pair predicate. The plan
    exercise: both nation lookups broadcast, the pair predicate is a
    residual that CANNOT be pushed to either scan alone (it correlates
    the two sides), and the only fact-sized shuffles are
    lineitem↔orders and orders↔customer.

    Spark applies the nation filter to each broadcast dim EARLY (each
    side keeps only the two named nations — the implied single-side
    prune Catalyst derives from the OR), so the residual evaluates on a
    tiny surviving row set. Decimal-exact revenue as everywhere.

    At 100 TB: with orders/lineitem orderkey-bucketed the first join is
    zero-Exchange; customer joins via its own shuffle (or bucketing);
    nations are literal broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    two = n.filter(F.col("n_name").isin("NATION_0", "NATION_1"))
    ns = two.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    nc = two.select(F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        ((F.col("supp_nation") == "NATION_0") & (F.col("cust_nation") == "NATION_1"))
        | ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_0"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), c["c_nationkey"] == F.col("nc_key"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("ns_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(rev.cast(DEC)).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@query(
    "returned_item_ranking",
    oracle=f"""
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
             {_REV_DEC_SQL} AS rev_dec
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-07-01'
      GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rev_dec DESC, c_custkey) AS rn
      FROM rev
    )
    SELECT c_custkey, c_name, n_name, c_acctbal,
           CAST(rev_dec AS DOUBLE) AS revenue
    FROM ranked WHERE rn <= 20
    ORDER BY revenue DESC, c_custkey
    """,
    tags=("J1", "O4", "A1"),
)
def returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/O4] TPC-H Q10 shape — the "lost revenue" report: top-20
    customers by revenue on RETURNED lines (returnflag = 'R') in a
    half-year window, with name/nation context. Combines the
    returnflag+date scan prune (both filters reach the parquet scans),
    the fact→dim chain, a per-customer aggregate, and a deterministic
    top-k: ROW_NUMBER ranks the exact DECIMAL revenue with a custkey
    tiebreak — two customers with equal 6-digit revenue rank identically
    in both engines, where a double sort could ULP-flip them.

    At 100 TB: Spark's WindowGroupLimit pushes the rank-≤-20 limit into
    partial top-k per partition (the same plan shape pinned for
    ``window_rank_topk``), so the global sort sees ≤20 rows per task,
    not the full customer set."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    half = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(half, li["l_orderkey"] == half["o_orderkey"])
        .join(c, half["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(_rev_dec().alias("rev_dec"))
    )
    w = Window.orderBy(F.desc("rev_dec"), "c_custkey")
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "c_acctbal",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
    )


@query(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6)))
                AS DOUBLE) AS potential_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("A1", "P8"),
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/P8] TPC-H Q6 shape — the pure predicate-pushdown benchmark:
    revenue that would move if small-quantity discounts in a band were
    dropped for a year. No join, one conjunctive range predicate on
    three columns, one aggregate — the query exists to prove the scan
    does the work: every filter reaches the parquet reader
    (PushedFilters), column pruning reads 4 of 11 columns, and the
    single-row aggregate is entirely map-side. The discount band uses
    BETWEEN on the stored doubles directly (no arithmetic, so no
    rounding concern — equality of stored values is bit-equality).

    At 100 TB this is the query where row-group min/max statistics on a
    shipdate-sorted lake skip almost all IO; anything slower than scan
    speed here is an engine bug."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC))
            .cast("double")
            .alias("potential_revenue"),
        )
    )


@query(
    "small_quantity_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(30,6)) * 5 * pa.n < pa.s
    """,
    tags=("J4", "A1"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4/A1] TPC-H Q17 shape — revenue locked in orders below 20% of
    their part's average order quantity: the per-GROUP-average threshold
    join-back (vs ``important_parts``' single global threshold). The
    textbook form is a correlated scalar subquery per part; the
    scale-correct plan aggregates per part ONCE and joins back, which is
    what both the Spark side and the oracle CTE express.

    The threshold compare is exact: ``q * 5 * n < Σq`` multiplies the
    6-digit-exact quantity by exact integers and compares to the exact
    decimal sum — algebraically identical to ``q < 0.2 · avg`` but free
    of the double division that could ULP-flip a boundary line. The
    ``/ 7.0`` on the output is one double division, identical in both
    engines.

    At 100 TB: two passes over lineitem (aggregate + probe), both
    shuffling on l_partkey — on a partkey-bucketed lake both are
    zero-Exchange, and the per-part aggregate (2 numbers per part)
    broadcasts if the part count allows."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast(DEC)).alias("s"),
    ).toDF("pa_partkey", "n", "s")
    return (
        li.join(pa, li["l_partkey"] == pa["pa_partkey"])
        .filter(F.col("l_quantity").cast(DEC) * 5 * F.col("n") < F.col("s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            (
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0
            ).alias("avg_yearly"),
        )
    )


@query(
    "dominant_part_suppliers",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(30,6))) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    ), pt AS (
      SELECT l_partkey, SUM(sq) AS tq, CAST(COUNT(*) AS BIGINT) AS n_supp
      FROM ps GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
    FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE pt.n_supp >= 2 AND ps.sq * 2 > pt.tq
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY n_dominated_parts DESC, s.s_suppkey
    """,
    tags=("J4", "A1", "A6"),
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4/A1] TPC-H Q20 spirit with the fixture's columns — suppliers
    who shipped a MAJORITY of some contested part's yearly volume
    (>50% where ≥2 suppliers ship the part): the nested-aggregate
    pattern — an inner aggregate at (part, supplier) grain rolled up a
    second time at part grain, with the survivor predicate comparing
    the two grains. The textbook IN-subquery-with-correlated-aggregate
    collapses to exactly this two-level aggregate + self-equi-join,
    which is the one-scan formulation.

    Majority compare is exact: ``sq * 2 > tq`` on DECIMAL sums.
    Single-supplier parts are excluded (trivially 100%), making the
    report the concentration-risk view procurement actually wants.

    At 100 TB: one scan (year filter pushed), one shuffle at
    (part, supplier), a part-grain re-aggregate that reuses the same
    partitioning's prefix, and a broadcast supplier lookup."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ps = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sq"))
    )
    pt = ps.groupBy("l_partkey").agg(
        F.sum("sq").alias("tq"), F.count(F.lit(1)).cast("bigint").alias("n_supp")
    ).toDF("pt_partkey", "tq", "n_supp")
    return (
        ps.join(pt, ps["l_partkey"] == pt["pt_partkey"])
        .filter((F.col("n_supp") >= 2) & (F.col("sq") * 2 > F.col("tq")))
        .join(F.broadcast(s), ps["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dominated_parts"))
        .orderBy(F.desc("n_dominated_parts"), "s_suppkey")
    )


@query(
    "customer_ltv_pareto",
    oracle=f"""
    WITH rev AS (
      SELECT o.o_custkey, {_REV_DEC_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('(1 - l_discount)', '(1 - l.l_discount)')} AS rev_dec
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_custkey
    ), tiled AS (
      SELECT o_custkey, rev_dec,
             CAST(NTILE(10) OVER (ORDER BY rev_dec DESC, o_custkey) AS INT)
               AS decile
      FROM rev
    ), tot AS (SELECT SUM(rev_dec) AS total_dec FROM rev)
    SELECT d.decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(d.rev_dec) AS DOUBLE) AS revenue,
           CAST(SUM(d.rev_dec) AS DOUBLE) / CAST(t.total_dec AS DOUBLE)
             AS revenue_share
    FROM tiled d, tot t
    GROUP BY d.decile, t.total_dec
    ORDER BY d.decile
    """,
    tags=("W5", "A1"),
)
def customer_ltv_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W5/A1] Revenue concentration curve — customers ranked into
    NTILE(10) deciles by lifetime revenue, with each decile's share of
    total revenue: the Pareto ("do 20% of customers drive 80% of
    revenue") report every commercial team runs, and the decile-bucket
    companion of ``important_parts``' single-threshold cut. The NTILE
    ranks the exact DECIMAL revenue with a custkey tiebreak, so decile
    boundaries are engine-identical even between equal-revenue
    customers; shares divide exact decimal sums.

    The total-order NTILE is the exact-oracle formulation (same
    contract as ``rfm_segmentation``): at billions of customers the
    decile boundaries would come from ``approx_percentiles`` + a
    broadcast range lookup, trading exactness for a scan — documented
    trade, same output schema.

    At 100 TB: one orderkey-co-located fact join, one shuffle to
    custkey grain, and the single-partition NTILE sort over the
    aggregated (custkey, revenue) frame — the stated scale boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(_rev_dec().alias("rev_dec"))
    )
    tot = rev.agg(F.sum("rev_dec").alias("total_dec"))
    w = Window.orderBy(F.desc("rev_dec"), "o_custkey")
    return (
        rev.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .crossJoin(F.broadcast(tot))
        .groupBy("decile", "total_dec")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("rev_dec").alias("rev_sum_dec"),
        )
        .select(
            "decile",
            "n_customers",
            F.col("rev_sum_dec").cast("double").alias("revenue"),
            (
                F.col("rev_sum_dec").cast("double") / F.col("total_dec").cast("double")
            ).alias("revenue_share"),
        )
        .orderBy("decile")
    )


@query(
    "ship_latency_percentiles",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(quantile_cont(datediff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)), 0.5), 4)
             AS p50_days,
           ROUND(quantile_cont(datediff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)), 0.9), 4)
             AS p90_days,
           CAST(MAX(datediff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE))) AS INT) AS max_days
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("A7", "J1"),
)
def ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/J1] Order-to-ship latency SLA report — exact p50/p90/max of
    (shipdate − orderdate) days per order priority: the operational
    latency view (is URGENT actually faster?) built on exact integer
    day gaps. ``percentile`` (exact, interpolated) equals DuckDB
    ``quantile_cont`` on the same integer multiset; the 4-digit ROUND
    follows the ``percentiles`` precedent — interpolation weights are
    dyadic rationals of integers, so cross-engine drift is far below
    the rounding grain.

    At 100 TB: the fact join is orderkey-co-located; exact grouped
    percentiles sort within the 5 priority groups — the stated exact
    path, with ``approx_percentiles`` as the documented sketch
    alternative at higher cardinality."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    days = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.expr(
                "percentile(datediff(to_date(l_shipdate), to_date(o_orderdate)), 0.5)"
            ), 4).alias("p50_days"),
            F.round(F.expr(
                "percentile(datediff(to_date(l_shipdate), to_date(o_orderdate)), 0.9)"
            ), 4).alias("p90_days"),
            F.max(days).cast("int").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "basket_pair_lift",
    oracle="""
    WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM po
    ), marg AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part FROM po
      GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY p1, p2
    ), scored AS (
      SELECT p.p1, p.p2, p.n_pair,
             (CAST(p.n_pair AS DOUBLE) / t.n)
               / ((CAST(m1.n_part AS DOUBLE) / t.n)
                  * (CAST(m2.n_part AS DOUBLE) / t.n)) AS lift
      FROM pairs p, n_orders t
      JOIN marg m1 ON m1.l_partkey = p.p1
      JOIN marg m2 ON m2.l_partkey = p.p2
      WHERE p.n_pair >= 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, p1, p2) AS rn
      FROM scored
    )
    SELECT p1, p2, n_pair, lift FROM ranked WHERE rn <= 50
    ORDER BY lift DESC, p1, p2
    """,
    tags=("J1", "A1", "U4"),
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/A1] Market-basket affinity — part pairs co-purchased in the
    same order far above chance, ranked by lift (P(both)/(P(a)·P(b)) on
    order-level presence): the association-rule staple behind
    "frequently bought together", and the commerce twin of
    ``pmi_collocations`` (same exact-ratio-not-log determinism
    contract, same top-50 ROW_NUMBER tiebreak). The pair space is
    bounded by per-order basket size (not the catalog²): the self-join
    pairs within orderkey only, ~k² per order for k-line baskets.

    Counts exact; lift is a fixed sequence of divisions of exact
    integers; min pair support 2 suppresses the singleton tail. At
    100 TB: the distinct (order, part) projection collapses the fact
    table; the within-order pair explosion shuffles on orderkey (lake
    bucketing makes it zero-Exchange) and the marginals broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = po.agg(
        F.count_distinct(F.col("l_orderkey")).cast("bigint").alias("n")
    )
    marg = po.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_part")
    )
    a, b = po.alias("a"), po.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    m1 = marg.toDF("m1_key", "n_part1")
    m2 = marg.toDF("m2_key", "n_part2")
    n_d = F.col("n").cast("double")
    scored = (
        pairs.crossJoin(F.broadcast(n_orders))  # 1-row literal-carry
        .join(F.broadcast(m1), F.col("p1") == F.col("m1_key"))
        .join(F.broadcast(m2), F.col("p2") == F.col("m2_key"))
        .select(
            "p1",
            "p2",
            "n_pair",
            (
                (F.col("n_pair").cast("double") / n_d)
                / (
                    (F.col("n_part1").cast("double") / n_d)
                    * (F.col("n_part2").cast("double") / n_d)
                )
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.desc("lift"), "p1", "p2")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .drop("rn")
        .orderBy(F.desc("lift"), "p1", "p2")
    )


@query(
    "hhi_concentration",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, {_REV_DEC_SQL} AS r
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), pt AS (
      SELECT l_partkey, SUM(r) AS t, CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM ps GROUP BY l_partkey
    )
    SELECT ps.l_partkey AS p_partkey, pt.n_suppliers,
           CAST(SUM(CAST((CAST(ps.r AS DOUBLE) / CAST(pt.t AS DOUBLE))
                         * (CAST(ps.r AS DOUBLE) / CAST(pt.t AS DOUBLE))
                         AS DECIMAL(20,12))) AS DOUBLE) AS hhi
    FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey
    WHERE pt.n_suppliers >= 2
    GROUP BY p_partkey, pt.n_suppliers
    ORDER BY hhi DESC, p_partkey
    """,
    tags=("A1", "A7"),
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/A7] Herfindahl–Hirschman supply-concentration index per part
    — Σ(supplier revenue share)² over each part's suppliers, the
    antitrust/procurement-risk scalar that ``dominant_part_suppliers``'
    binary majority cut coarsens (HHI ranks ALL parts on a continuous
    0→1 concentration scale; 1/n = perfectly split, 1 = monopolized).
    Single-supplier parts are excluded (trivially 1).

    Determinism: supplier revenues are exact DECIMAL sums; each share
    is one double division of two exactly-agreed values; the share² sum
    accumulates per-term-rounded DECIMAL(20,12) (order-free), and the
    DESC ordering ranks those exact decimals. Two-grain nested
    aggregate + same-key join — one shuffle at (part, supplier), the
    part-grain rollup and the join reuse the partitioning prefix."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(_rev_dec().alias("r"))
    pt = ps.groupBy("l_partkey").agg(
        F.sum("r").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    ).toDF("pt_key", "t", "n_suppliers")
    share = F.col("r").cast("double") / F.col("t").cast("double")
    return (
        ps.join(pt, F.col("l_partkey") == F.col("pt_key"))
        .filter(F.col("n_suppliers") >= 2)
        .groupBy(F.col("l_partkey").alias("p_partkey"), "n_suppliers")
        .agg(
            F.sum((share * share).cast("decimal(20,12)"))
            .cast("double")
            .alias("hhi")
        )
        .orderBy(F.desc("hhi"), "p_partkey")
    )


@query(
    "product_profit_by_nation",
    oracle="""
    SELECT n.n_name, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - 0.6 * p.p_retailprice * l.l_quantity
                         AS DECIMAL(30,6))) AS DOUBLE) AS profit,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'red %'
    GROUP BY n.n_name, o_year
    ORDER BY n.n_name, o_year
    """,
    tags=("J1", "J2", "A1"),
)
def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/J2/A1] TPC-H Q9 shape — profit per supplying nation per order
    year for one product family, the five-table join report (lineitem ⋈
    orders ⋈ supplier ⋈ nation ⋈ part). The reference's fixture carries
    no partsupp table, so the Q9 supply-cost term uses the deterministic
    proxy ``0.6 · p_retailprice`` — the JOIN TOPOLOGY and the
    amount-expression shape (revenue minus quantity-scaled cost inside
    one aggregate) are what Q9 exercises, and both are faithful.

    Numeric contract: the per-line amount is ONE double expression
    (identical literal 0.6, identical op order in both engines) cast to
    DECIMAL(30,6) per row and summed exactly — order-independent under
    partial aggregation (the ``dsum`` rule). Year extraction is
    engine-agreed on timestamps.

    Scale: the only fact-fact edge (lineitem ⋈ orders) shuffles on the
    orderkey both sides; supplier/nation/part are broadcast dims (part
    after its pushed-down LIKE prune). On an orderkey-bucketed lake the
    big edge is zero-Exchange; the groupBy output is
    nations × years — trivially small."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red %"))
        .select("p_partkey", "p_retailprice")
    )
    amount = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("n_name", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(amount).cast("double").alias("profit"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("n_name", "o_year")
    )


@query(
    "shipping_priority_topk",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'MACHINERY'
      AND o.o_orderdate < TIMESTAMP '1999-06-01'
      AND l.l_shipdate  > TIMESTAMP '1996-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("J1", "J2", "A1", "O4"),
    # the GENUINE build-side choice (VERDICT r8 ask #8): unlike
    # top_revenue_orders there is NO broadcast() hint anywhere in this
    # query — whether the filtered customer side builds a broadcast hash
    # table is entirely the planner's runtime call, which is what AQE's
    # exact-bytes shuffle->broadcast conversion exists for. No policy, so
    # it runs on the caller's session with that conversion armed.
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/J2/A1/O4] TPC-H Q3 shipping-priority report with an UNHINTED
    build side: revenue top-10 undelivered-window orders for one market
    segment, date predicates on BOTH fact scans (o_orderdate on orders,
    l_shipdate on lineitem — plan-pinned to reach each scan's
    PushedFilters). The fact⋈fact edge (orders ⋈ lineitem) shuffles on
    the orderkey; the segment-filtered customer side carries no
    broadcast() hint — at sf sizes the static planner broadcasts it from
    file-size estimates, and at lake scale (where the unfiltered
    customer table is shuffle-sized) AQE's runtime exact-bytes estimate
    of the filtered shuffle output makes the call instead
    (`test_q3_topk_aqe_broadcasts_dim_and_pushes_dates` pins the
    BroadcastHashJoin in the FINAL adaptive plan, not the static one).
    Top-k plans as TakeOrderedAndProject (no global sort); ties broken
    deterministically by (o_orderdate, l_orderkey). Revenue uses the
    dsum exact-decimal accumulation rule."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-06-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-01").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(revenue).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority", "n_lines")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )
