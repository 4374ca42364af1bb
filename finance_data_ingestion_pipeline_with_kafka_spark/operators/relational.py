"""Projections, filters, predicates, scalar functions (SURVEY §2.2 P1–P8,
§2.8 F4–F11).

Each query is a narrow (shuffle-free) pipeline — Catalyst pushes the
predicates and the column pruning into the parquet scan, so at 100 TB these
read only the referenced columns of the matching row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query, sized


@query(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           ROUND(l_extendedprice * l_tax, 4) AS tax_amt
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("P8", "F6"),
    bench=True,
    policy=sized,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P8/F6] Range + between + comparison predicates with computed
    projections. Per-row double arithmetic is deterministic — no decimal
    guard needed (only multi-row float aggregation is order-sensitive)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
            F.round(F.col("l_extendedprice") * F.col("l_tax"), 4).alias("tax_amt"),
        )
        # presentation sort dropped (order-insensitive compare)
    )


@query(
    "membership_predicate",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'O') AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    ORDER BY o_orderkey
    """,
    tags=("P7",),
)
def membership_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P7] ``isin`` whitelist — mirrors the reference's ticker-membership
    gate (``StockFinanceMetrics.py:43-47``)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderstatus").isin("F", "O")
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")
    )


@query(
    "null_conditional",
    oracle="""
    SELECT c_custkey,
           COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
           CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier,
           c_acctbal IS NULL AS bal_missing
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("P8", "F10"),
)
def null_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F10] when/otherwise, coalesce, null predicates — the validity-gate
    family the reference runs pre-Spark (``dags/...yfinance...py:85-99``)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.col("c_acctbal").isNull().alias("bal_missing"),
    ).orderBy("c_custkey")


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_uc,
           SUBSTRING(p_name, 1, 10) AS name_prefix,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, '/', p_type) AS brand_type,
           REGEXP_EXTRACT(p_type, '^([A-Z]+)', 1) AS type_head,
           CONTAINS(p_type, 'BRUSHED') AS is_brushed
    FROM part
    ORDER BY p_partkey
    """,
    tags=("F7",),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F7] upper/substring/length/concat/regexp/contains."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.col("p_type").contains("BRUSHED").alias("is_brushed"),
    ).orderBy("p_partkey")


@query(
    "datetime_functions",
    oracle="""
    SELECT o_orderkey,
           DATE_TRUNC('month', o_orderdate) AS order_month,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_mon,
           CAST(DAYOFWEEK(o_orderdate) AS INT) + 1 AS order_dow,
           o_orderdate + INTERVAL 30 DAY AS due_date
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    ORDER BY o_orderkey
    """,
    tags=("F5",),
)
def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F5] date_trunc / extract / arithmetic. DuckDB ``DAYOFWEEK`` is
    0=Sunday while Spark ``dayofweek`` is 1=Sunday — the oracle adds 1."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_mon"),
            F.dayofweek("o_orderdate").alias("order_dow"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "json_extraction",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
    FROM events
    ORDER BY event_id
    """,
    tags=("F9",),
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F9] JSON path extraction from the ``events.props`` string column —
    the event-properties pattern (driver fixture)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    ).orderBy("event_id")


@query(
    "hash_functions",
    oracle="""
    SELECT o_orderkey,
           md5(CONCAT(CAST(o_orderkey AS VARCHAR), '§', o_orderstatus)) AS row_md5,
           sha256(o_orderpriority) AS prio_sha
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("F11",),
)
def hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F11] Deterministic hashing — basis for the idempotent surrogate key
    replacing the reference's ``uuid()`` (SURVEY §7.2)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.md5(F.concat_ws("§", F.col("o_orderkey").cast("string"), "o_orderstatus")).alias(
            "row_md5"
        ),
        F.sha2("o_orderpriority", 256).alias("prio_sha"),
    ).orderBy("o_orderkey")


@query(
    "array_functions",
    oracle="""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           list_contains(toks, 'the') AS has_the,
           len(list_distinct(toks)) AS n_unique,
           array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS first3_sorted,
           len(list_filter(toks, x -> length(x) > 5)) AS n_long_tokens
    FROM t
    ORDER BY doc_id
    """,
    tags=("F8",),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F8] Array family: size/contains/distinct/sort/slice/filter over the
    token array (the trade-conditions ArrayType surface,
    finnhub_processing.py:18, exercised on text tokens)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ",").alias(
            "first3_sorted"
        ),
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).alias("n_long_tokens"),
    ).orderBy("doc_id")


@query(
    "map_functions",
    oracle="""
    SELECT event_id,
           array_to_string(json_keys(props), ',') AS prop_keys,
           CAST(len(json_keys(props)) AS INT) AS n_props,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    ORDER BY event_id
    """,
    tags=("F9",),
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F9] Map family: JSON → MapType, map_keys/size/element access over
    the event-properties column."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.size(m).alias("n_props"),
        m.getItem("k").alias("k_value"),
    ).orderBy("event_id")


@query(
    "variant_json_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
           CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                           THEN 1 END) AS BIGINT) AS n_large
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("F9",),
)
def variant_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F9] Semi-structured aggregation through VariantType (Spark 4):
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` extractions. At 100 TB variant beats per-path
    ``get_json_object`` re-parsing — the document is decoded once and
    shredded columnar in Parquet; pushdown applies to extracted paths."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        e.select("event_type", F.variant_get(v, "$.k", "bigint").alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("total_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_large"),
        )
        .orderBy("event_type")
    )


@query(
    "table_profile",
    oracle="""
    SELECT 'o_custkey' AS column_name,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    ORDER BY column_name
    """,
    tags=("A1", "A4"),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling: per-column null count, distinct count, min/max —
    the ingest-validation pass a training pipeline runs before trusting a
    new drop. ONE scan computes every column's metrics as a wide
    aggregate, then unpivots to long form (the oracle's UNION ALL rescans
    instead; same values) — at 100 TB the single-pass shape is the only
    affordable one."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nnulls"),
            F.countDistinct(c).alias(f"{c}__ndistinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nnulls, {c}__ndistinct, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    ).orderBy("column_name")


@query(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           date_diff('day', DATE '1996-01-01', o_orderdate) AS days_since_epoch_start,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS day_of_week
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("F5",),
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F5] Date arithmetic family: offset, difference, boundary snapping
    (last_day / quarter trunc), day-of-week. Date results are formatted
    ISO strings — pandas has no date dtype, so raw DATE columns compare
    as datetime.date vs datetime64 across engines. DuckDB EXTRACT(dow)
    is 0=Sunday; Spark dayofweek is 1=Sunday → aligned with -1."""
    o = load_table(spark, sf_dir, "orders")
    iso = "yyyy-MM-dd"
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(F.col("o_orderdate"), 30), iso).alias("due_date"),
        F.datediff(F.col("o_orderdate"), F.lit("1996-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        F.date_format(F.last_day("o_orderdate"), iso).alias("month_end"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), iso).alias("quarter_start"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("day_of_week"),
    ).orderBy("o_orderkey")


@query(
    "explode_outer_numbers",
    oracle="""
    SELECT d.doc_id, u.number
    FROM documents d
    LEFT JOIN LATERAL (SELECT unnest(regexp_extract_all(d.text, '[0-9]+')) AS number) u
           ON TRUE
    ORDER BY doc_id, number NULLS FIRST
    """,
    tags=("F8",),
)
def explode_outer_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[F8] explode_outer — rows with an empty/NULL array survive as a
    single NULL row (unlike plain explode, which drops them). Extracted
    digit runs make a naturally sparse array column to demonstrate on."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode_outer(F.regexp_extract_all("text", F.lit(r"[0-9]+"), F.lit(0))).alias(
            "number"
        ),
    ).orderBy("doc_id", F.col("number").asc_nulls_first())


@query(
    "table_expectations",
    oracle="""
    WITH checks AS (
      SELECT 'fk_lineitem_orderkey' AS check_name,
             CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(COALESCE(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_violations
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'fk_orders_custkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT)
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      UNION ALL
      SELECT 'nonempty_document_text',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN text IS NULL OR trim(text) = ''
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'nonneg_order_price',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'nonnull_event_ts',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'unique_customer_key',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
      FROM customer
    )
    SELECT check_name, n_checked, n_violations,
           n_violations = 0 AS pass
    FROM checks ORDER BY check_name
    """,
    tags=("P8", "A1"),
)
def table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P8/A1] Data-contract audit — the dbt-test / expectations layer
    as one catalog query: referential integrity (lineitem→orders,
    orders→customer, via left-join null counts — never an unbounded
    anti-join materialization), key uniqueness, value-domain and
    null-rate checks, one tall row per check with checked/violation
    counts and a pass verdict. This is the gate a warehouse runs before
    publishing a snapshot; on the clean fixture every check passes, and
    any regression in the generator or an ingest bug flips a row to
    ``pass = false`` with the violation count attached.

    Scale: each check is one scan-aggregate or one key-partitioned join
    with map-side partials; checks are independent so the union's
    branches run as parallel stages sharing nothing. At 100 TB the FK
    probes are the expensive rows — they shuffle on the FK — and the
    audit inherits whatever bucketing the lake already has on those
    keys (zero-Exchange when both sides are bucketed,
    ``sources/lake.py``)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    e = load_table(spark, sf_dir, "events").select("ts")
    d = load_table(spark, sf_dir, "documents").select("text")

    def viol(cond) -> F.Column:
        return (
            F.coalesce(
                F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_violations")
        )

    n = F.count(F.lit(1)).cast("bigint").alias("n_checked")
    checks = (
        li.join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left")
        .agg(
            F.lit("fk_lineitem_orderkey").alias("check_name"),
            n,
            viol(F.col("o_orderkey").isNull()),
        )
        .unionByName(
            o.join(c, o["o_custkey"] == c["c_custkey"], "left").agg(
                F.lit("fk_orders_custkey").alias("check_name"),
                n,
                viol(F.col("c_custkey").isNull()),
            )
        )
        .unionByName(
            d.agg(
                F.lit("nonempty_document_text").alias("check_name"),
                n,
                viol(
                    F.col("text").isNull() | (F.trim(F.col("text")) == "")
                ),
            )
        )
        .unionByName(
            o.agg(
                F.lit("nonneg_order_price").alias("check_name"),
                n,
                viol(F.col("o_totalprice") < 0),
            )
        )
        .unionByName(
            e.agg(
                F.lit("nonnull_event_ts").alias("check_name"),
                n,
                viol(F.col("ts").isNull()),
            )
        )
        .unionByName(
            c.agg(
                F.lit("unique_customer_key").alias("check_name"),
                n,
                (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
                .cast("bigint")
                .alias("n_violations"),
            )
        )
    )
    return checks.select(
        "check_name",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("pass"),
    ).orderBy("check_name")
