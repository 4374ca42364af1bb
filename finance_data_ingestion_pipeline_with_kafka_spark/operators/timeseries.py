"""Time-series composites (SURVEY §2.3 J5/J6, §2.4 A2/A3, §2.9 T7/T8/T9).

These are the finance-specific recipes: OHLCV bar building, VWAP, as-of
join, tumbling/sliding/session event-time windows. Batch formulations here
(oracle-checkable); the same expressions run under Structured Streaming in
``streaming/windows.py`` with watermarks.

Determinism: bar open/close use ``min_by``/``max_by`` over a total ordering
``struct(ts, event_id)`` — never order-dependent ``F.first`` under shuffle
(SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.core import DEC, davg, dsum, dsum_scaled, snap_scaled
from ..registry import query, sized

MACD_WINDOW = 50  # lag truncation, matching the `ewma` query's frame
_MACD_Q_FAST = 11 / 13  # 1 - 2/(12+1)
_MACD_Q_SLOW = 25 / 27  # 1 - 2/(26+1)
_MACD_Q_SIG = 0.8  # 1 - 2/(9+1)
#: truncation-mass normalizers 1 - q^N: dividing each truncated EMA by
#: its actual weight mass removes the systematic bias truncation leaves
#: (at q=25/27, N=50 the missing tail mass is ~2.1% — a constant series
#: would otherwise show macd ≈ 0.021·x instead of 0). Python-computed
#: double literals, embedded identically in both engines (used by both
#: the ``macd`` batch query and the ``macd_fold_series`` twin).
_MACD_W_FAST = 1 - _MACD_Q_FAST**MACD_WINDOW
_MACD_W_SLOW = 1 - _MACD_Q_SLOW**MACD_WINDOW
_MACD_W_SIG = 1 - _MACD_Q_SIG**9


@query(
    "tumbling_window_agg",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM events_us
    GROUP BY event_type, window_start
    """,
    tags=("T7", "A2"),
    bench=True,
    policy=sized,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T7] Tumbling event-time window — the 1-minute bar grid generalized.
    ``F.window`` start equals DuckDB ``time_bucket`` on a UTC session."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.window("ts", "1 hour").start.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        # final presentation sort dropped: compare is order-insensitive and
        # the range-partition sample + sort stage is pure per-run overhead
    )


@query(
    "sliding_window_agg",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT event_type,
           time_bucket(INTERVAL '30 minutes', ts) - k.k * INTERVAL '30 minutes' AS window_start,
           COUNT(*) AS n_events
    FROM events_us CROSS JOIN (VALUES (0), (1)) k(k)
    GROUP BY event_type, window_start
    """,
    tags=("T8",),
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T8] Sliding window (1 h window, 30 min slide): each event lands in
    two overlapping windows. Oracle derives the same window set by shifting
    the half-width tumbling bucket."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.window("ts", "1 hour", "30 minutes").start.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        # presentation sort dropped: compare is order-insensitive and the
        # range-exchange + global sort is pure per-run overhead at N×
    )


@query(
    "session_window_agg",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts > COALESCE(LAG(ts) OVER w, TIMESTAMP '1970-01-01')
                            + INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events_us
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("T9",),
    bench=True,
    policy=sized,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T9] Session windows (30-minute inactivity gap) — trading-burst
    sessions per user. Spark ``session_window`` merges INCLUSIVELY at the
    boundary (an event exactly gap after the previous still joins the
    session — verified empirically; only a strictly-later event opens a
    new one), so the oracle's gaps-and-islands rewrite flags a new
    session on ``ts > prev + gap``. Event timestamps are µs-resolution,
    so the boundary is unreachable on this fixture — the operator and
    oracle encode it correctly anyway.

    Plan choice audited (round 5): a Spark-side gaps-and-islands rewrite
    (lag + cumsum windows + hash agg) measures SLOWER than the native
    session-window aggregation at both 1× (0.53 s vs 0.40 s) and 30×
    (1.65 s vs 1.50 s) bench volume — the two window passes over the
    sorted partition cost more than the native operator's single
    merging-sessions pass — so the native form stays."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        # presentation sort dropped: compare is order-insensitive; the
        # global sort range-samples + exchanges every session row — at
        # 30× it was the query's variance (and a third of its time)
    )


def _purchase_click_sides(e: DataFrame) -> DataFrame:
    """(event_id, user_id, ts, value, side) rows for the as-of family:
    side 1 = purchase, side 0 = click. ONE scan with
    ``event_type IN (purchase, click)`` pushed down, not the historical
    two-filter-branch union (r17, guide §2.4/§6): the union's branches
    each re-scanned and re-decoded the full events table — no exchange
    reuse applies to scans. Row set, side values and every downstream
    ordering key are identical to the union form (the two predicates
    partition the IN set), so all four as-of variants' results are
    byte-unchanged; interleaved same-JVM A/B on asof_join at sf0.1
    (noop, min/med of 5): 0.392/0.475 → 0.180/0.305."""
    return e.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("side"),
    )


@query(
    "asof_join",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT l.event_id, l.user_id, l.ts, l.value AS purchase_value,
           r.ts AS last_click_ts, r.value AS last_click_value
    FROM (SELECT * FROM events_us WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT user_id, ts, max_by(value, event_id) AS value
                    FROM events_us WHERE event_type = 'click'
                    GROUP BY user_id, ts) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    tags=("J5",),
    bench=True,
    policy=sized,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J5] As-of join — for each purchase, the latest click at-or-before
    it per user (the "last trade price at-or-before each bar close" join).

    Spark has no native as-of primitive; this is the union + last-non-null
    window recipe (SURVEY §2.3 J5): tag both sides, union on (key, ts),
    carry the right side's values forward with ``last(ignorenulls=True)``,
    keep left rows. One shuffle on (user_id), no range explosion — at
    100 TB this beats the range-join formulation because state is a single
    carried row per key, not a windowed cross product.

    Tie semantics: right rows sort before left rows at equal ts (side 0 < 1)
    so ``ts >= r.ts`` is inclusive, matching DuckDB ASOF; duplicate right
    timestamps resolve to the largest event_id deterministically. DuckDB's
    native ASOF picks an ARBITRARY row among equal-ts right rows, so the
    oracle pre-dedupes clicks to one row per (user_id, ts) with
    ``max_by(value, event_id)`` — the same pick as the carry — keeping the
    compare deterministic even if a future fixture contains ts ties.
    """
    e = load_table(spark, sf_dir, "events")
    unioned = _purchase_click_sides(e)
    w = Window.partitionBy("user_id").orderBy("ts", "side", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # carry ts+value as ONE struct: carrying them as two separate
    # last(ignorenulls) columns would let a NULL click VALUE be skipped
    # while its ts is kept, pairing the latest ts with an OLDER value —
    # DuckDB ASOF returns the matched row's fields intact, NULLs included
    r_row = F.when(F.col("side") == 0, F.struct("ts", "value"))
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "side",
        F.last(r_row, ignorenulls=True).over(w).alias("click"),
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("purchase_value"),
            F.col("click.ts").alias("last_click_ts"),
            F.col("click.value").alias("last_click_value"),
        )
        # presentation sort dropped (order-insensitive compare)
    )


@query(
    "ohlcv_bars",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ranked AS (
      SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS bar_start, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events_us
    )
    SELECT event_type, bar_start,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           CAST(MAX(value) AS DOUBLE) AS high,
           CAST(MIN(value) AS DOUBLE) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*) AS n_ticks,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS volume_proxy
    FROM ranked
    GROUP BY event_type, bar_start
    ORDER BY event_type, bar_start
    """,
    tags=("A2",),
    bench=True,
    policy=sized,
)
def ohlcv_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A2] OHLCV bar builder — the aggregation contract behind the
    reference's 1-minute bars (Open=first, High=max, Low=min, Close=last,
    SURVEY §2.4). ``min_by/max_by`` over ``struct(ts, event_id)`` gives
    deterministic open/close in one shuffle-stage hash aggregation — no
    window sort pass needed, which is the cheaper plan at scale."""
    e = load_table(spark, sf_dir, "events")
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy("event_type", F.window("ts", "6 hours").start.alias("bar_start"))
        .agg(
            F.min_by("value", tiebreak).alias("open"),
            F.max("value").cast("double").alias("high"),
            F.min("value").cast("double").alias("low"),
            F.max_by("value", tiebreak).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            dsum("value").alias("volume_proxy"),
        )
        # presentation sort dropped (order-insensitive compare)
    )


@query(
    "vwap",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value * CAST(json_extract_string(props, '$.k') AS BIGINT)
                         AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS vwap,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_volume
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A3", "F9"),
)
def vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] Volume-weighted average price: value as price, the JSON ``k``
    prop as volume — sum(p·v)/sum(v) with exact decimal accumulation."""
    e = load_table(spark, sf_dir, "events")
    vol = F.get_json_object("props", "$.k").cast("bigint")
    pv = (F.col("value") * vol).cast("decimal(30,6)")
    return (
        e.groupBy("event_type")
        .agg(
            (F.sum(pv).cast("double") / F.sum(vol).cast("double")).alias("vwap"),
            F.sum(vol).cast("bigint").alias("total_volume"),
        )
        .orderBy("event_type")
    )


@query(
    "last_closed_bar",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT user_id, event_id, ts, value
    FROM (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events_us
    ) WHERE rn = 2
    ORDER BY user_id
    """,
    tags=("O1",),
)
def last_closed_bar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O1] The reference's last-closed-bar selection
    (``tail(2).head(1)``, StockFinanceMetrics.py:87-93) as a per-key
    window: the second-most-recent record — i.e. the latest COMPLETE one,
    skipping the in-progress bar."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.select("user_id", "event_id", "ts", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 2)
        .drop("rn")
        .orderBy("user_id")
    )


@query(
    "multi_resolution_bars",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ranked AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bar_start, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '1 hour', ts)
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '1 hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events_us
    ),
    fine AS (
      SELECT event_type, bar_start,
             MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
             CAST(MAX(value) AS DOUBLE) AS high,
             CAST(MIN(value) AS DOUBLE) AS low,
             MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
             COUNT(*) AS n_ticks,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS volume_proxy
      FROM ranked GROUP BY event_type, bar_start
    )
    SELECT event_type, time_bucket(INTERVAL '6 hours', bar_start) AS bar_start,
           arg_min(open, bar_start) AS open,
           MAX(high) AS high,
           MIN(low) AS low,
           arg_max(close, bar_start) AS close,
           CAST(SUM(n_ticks) AS BIGINT) AS n_ticks,
           CAST(SUM(CAST(volume_proxy AS DECIMAL(30,6))) AS DOUBLE) AS volume_proxy
    FROM fine
    GROUP BY event_type, time_bucket(INTERVAL '6 hours', bar_start)
    """,
    tags=("A2",),
    bench=True,
    policy=sized,
)
def multi_resolution_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A2] Hypertable-style continuous-aggregate rollup: 6-hour bars
    derived FROM the 1-hour bar table, not from raw ticks. OHLCV composes
    exactly across resolutions (open-of-earliest, max, min,
    close-of-latest, sums), so each coarser level reads the much smaller
    finer level — at 100 TB the 6 h rollup scans the 1 h aggregate
    (~1/10000th of the raw data) and the cascade is incremental-refresh
    friendly. ``bar_start`` is unique per group at level 2, so
    ``min_by/max_by`` on it is a total ordering (deterministic)."""
    e = load_table(spark, sf_dir, "events")
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    fine = e.groupBy("event_type", F.window("ts", "1 hour").start.alias("bar_start")).agg(
        F.min_by("value", tiebreak).alias("open"),
        F.max("value").cast("double").alias("high"),
        F.min("value").cast("double").alias("low"),
        F.max_by("value", tiebreak).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        dsum("value").alias("volume_proxy"),
    )
    return (
        fine.groupBy("event_type", F.window("bar_start", "6 hours").start.alias("bar_start"))
        .agg(
            F.min_by("open", F.col("bar_start")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("bar_start")).alias("close"),
            F.sum("n_ticks").alias("n_ticks"),
            dsum("volume_proxy").alias("volume_proxy"),
        )
        # presentation sort dropped (order-insensitive compare)
    )


@query(
    "twap",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT event_type, value,
             epoch_us(LEAD(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) - ts)
               AS dur_us
      FROM events_us
    )
    SELECT event_type,
           CAST(SUM(CAST(value * dur_us AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE) AS twap,
           CAST(SUM(dur_us) AS BIGINT) AS total_duration_us,
           CAST(COUNT(*) AS BIGINT) AS n_intervals
    FROM seq WHERE dur_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("A3", "W2"),
)
def twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] Time-weighted average price — VWAP's sibling for thin/bursty
    markets: each tick's price is weighted by how long it remained the
    prevailing price (time to the next tick in its stream), so a quiet
    hour at one price counts as an hour, not as one tick. Last tick per
    stream carries no interval and drops out. One (event_type)-keyed
    window for the lead + one grouped aggregation; the price×duration
    products are exactly representable doubles (2-dp price × integer µs
    within 2^53), so the DECIMAL accumulation is engine-exact."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    dur = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    seq = e.select("event_type", "value", dur.alias("dur_us")).filter(
        F.col("dur_us").isNotNull()
    )
    pd_ = (F.col("value") * F.col("dur_us")).cast("decimal(38,6)")
    return (
        seq.groupBy("event_type")
        .agg(
            (F.sum(pd_).cast("double") / F.sum("dur_us").cast("double")).alias("twap"),
            F.sum("dur_us").cast("bigint").alias("total_duration_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        )
        .orderBy("event_type")
    )


@query(
    "roll_spread",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    deltas AS (
      SELECT event_type, ts, event_id,
             value - LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id)
               AS d
      FROM events_us
    ), pairs AS (
      SELECT event_type, d,
             LAG(d) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dl
      FROM deltas
    )
    SELECT event_type, n_obs, serial_cov,
           CASE WHEN serial_cov < 0 THEN 2 * sqrt(-serial_cov)
                ELSE CAST(0 AS DOUBLE) END AS roll_spread
    FROM (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(CAST((d * dl) AS DECIMAL(30,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)
             - (CAST(SUM(CAST(d AS DECIMAL(30,6))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE))
               * (CAST(SUM(CAST(dl AS DECIMAL(30,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) AS serial_cov
      FROM pairs WHERE d IS NOT NULL AND dl IS NOT NULL
      GROUP BY event_type
    ) ORDER BY event_type
    """,
    tags=("A7", "W2"),
)
def roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W2] Roll (1984) effective-spread estimator per stream: under
    the Roll model, bid-ask bounce makes consecutive price CHANGES
    negatively serially correlated, and the effective spread is
    ``2·sqrt(−cov(Δp_t, Δp_{t−1}))`` — a microstructure measure
    computable from a trade tape alone (no quotes), which is exactly
    what a tick store at 100 TB has. Positive serial covariance (no
    bounce detectable) clamps to 0 by convention.

    Shape: one (event_type)-keyed window pass for the two lags (Δp and
    its lag ride the SAME sort — one exchange, one sort, two frame
    evaluations), then one grouped aggregation. Exactness: the deltas
    and their products are identical IEEE expressions in both engines;
    the three sums route through ``dsum``'s order-independent decimal
    accumulation, and the covariance/sqrt arithmetic on those rounded
    sums is the same op sequence on both sides — unrounded outputs,
    bit-equality by construction (sqrt is IEEE-correctly-rounded)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    deltas = e.select(
        "event_type",
        "ts",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("d"),
    )
    pairs = deltas.select(
        "event_type", "d", F.lag("d").over(w).alias("dl")
    ).filter(F.col("d").isNotNull() & F.col("dl").isNotNull())
    n = F.count(F.lit(1))
    agg = pairs.groupBy("event_type").agg(
        n.cast("bigint").alias("n_obs"),
        (
            dsum(F.col("d") * F.col("dl")) / n.cast("double")
            - (dsum("d") / n.cast("double")) * (dsum("dl") / n.cast("double"))
        ).alias("serial_cov"),
    )
    return agg.select(
        "event_type",
        "n_obs",
        "serial_cov",
        F.when(
            F.col("serial_cov") < 0, 2 * F.sqrt(-F.col("serial_cov"))
        )
        .otherwise(F.lit(0.0))
        .alias("roll_spread"),
    ).orderBy("event_type")


ATR_BARS = 14  # trailing bars in the ATR / Keltner frame
KELTNER_MULT = 1.5  # band half-width in ATR units
#: 2·ln(2) − 1 pinned as ONE double literal shared by both engines —
#: letting each engine evaluate its own ln(2) would seed the constant
#: with libm-vs-StrictMath ULP drift before any data arrives.
GK_COEF = 0.3862943611198906


@query(
    "atr_keltner",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ranked AS (
      SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS bar_start, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events_us
    ), bars AS (
      SELECT event_type, bar_start,
             CAST(MAX(value) AS DOUBLE) AS high,
             CAST(MIN(value) AS DOUBLE) AS low,
             MAX(CASE WHEN rn_close = 1 THEN value END) AS close
      FROM ranked GROUP BY event_type, bar_start
    ), tr AS (
      SELECT event_type, bar_start, close,
             CAST(FLOOR(GREATEST(
               high - low,
               ABS(high - COALESCE(LAG(close) OVER w, close)),
               ABS(low - COALESCE(LAG(close) OVER w, close))
             ) * 1000000 + 0.5) AS BIGINT) AS trm,
             CAST(FLOOR(close * 1000000 + 0.5) AS BIGINT) AS cm
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bar_start)
    ), acc AS (
      SELECT event_type, bar_start, close, trm,
             SUM(trm) OVER f AS s_tr,
             SUM(cm) OVER f AS s_c,
             COUNT(*) OVER f AS n
      FROM tr
      WINDOW f AS (PARTITION BY event_type ORDER BY bar_start
                   ROWS BETWEEN {ATR_BARS - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bar_start, close,
           CAST(trm AS DOUBLE) / 1000000.0 AS true_range,
           atr, kc_mid,
           kc_mid + {KELTNER_MULT} * atr AS kc_upper,
           kc_mid - {KELTNER_MULT} * atr AS kc_lower
    FROM (
      SELECT event_type, bar_start, close, trm, n,
             CAST(s_tr AS DOUBLE) / n / 1000000.0 AS atr,
             CAST(s_c AS DOUBLE) / n / 1000000.0 AS kc_mid
      FROM acc
    ) WHERE n = {ATR_BARS}
    ORDER BY event_type, bar_start
    """,
    tags=("A3", "W4"),
)
def atr_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] Average True Range (trailing {ATR_BARS}-bar mean of Wilder's
    true range over 6-hour OHLC bars) and the Keltner-style channel
    around the same frame's mean close (mid ± {KELTNER_MULT}·ATR) — the
    volatility-scaled band the indicator family was missing: Bollinger
    widens with CLOSE variance, Donchian with raw extremes, Keltner with
    realized RANGE, and regime filters consume all three.

    Determinism is the ``bollinger_bands`` integer-lane recipe: the true
    range is a deterministic double (max/min/lag inputs are exact order
    statistics, the subtractions/ABS/GREATEST identical IEEE ops in both
    engines), snapped to integer micros BEFORE the frame sum, so the
    windowed accumulations are exact BIGINTs no segment-tree order can
    perturb; every emitted double derives from identical integers via
    identical op sequences — outputs ship UNROUNDED. The first bar of
    each series coalesces prev_close to close, collapsing TR to
    high − low (the textbook seed). Only full {ATR_BARS}-bar frames emit.

    Scale: one hash aggregation ticks→bars (map-side partials), then
    windows over the BAR table — thousands of rows per instrument-year,
    not ticks; frame state is a bounded pair of longs. The micros lane
    holds to ~9e12 bars per frame — structurally unreachable with a
    {ATR_BARS}-row frame (the headroom argument is static, unlike an
    unbounded cumulative sum)."""
    e = load_table(spark, sf_dir, "events")
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    bars = e.groupBy(
        "event_type", F.window("ts", "6 hours").start.alias("bar_start")
    ).agg(
        F.max("value").cast("double").alias("high"),
        F.min("value").cast("double").alias("low"),
        F.max_by("value", tiebreak).alias("close"),
    )
    wlag = Window.partitionBy("event_type").orderBy("bar_start")
    pc = F.coalesce(F.lag("close").over(wlag), F.col("close"))
    trng = F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - pc),
        F.abs(F.col("low") - pc),
    )
    tr = bars.select(
        "event_type",
        "bar_start",
        "close",
        F.floor(trng * 1000000 + 0.5).cast("bigint").alias("trm"),
        F.floor(F.col("close") * 1000000 + 0.5).cast("bigint").alias("cm"),
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("bar_start")
        .rowsBetween(-(ATR_BARS - 1), Window.currentRow)
    )
    acc = tr.select(
        "event_type",
        "bar_start",
        "close",
        "trm",
        F.sum("trm").over(wf).alias("s_tr"),
        F.sum("cm").over(wf).alias("s_c"),
        F.count(F.lit(1)).over(wf).alias("n"),
    ).filter(F.col("n") == ATR_BARS)
    atr = F.col("s_tr").cast("double") / F.col("n") / 1000000.0
    mid = F.col("s_c").cast("double") / F.col("n") / 1000000.0
    return acc.select(
        "event_type",
        "bar_start",
        "close",
        (F.col("trm").cast("double") / 1000000.0).alias("true_range"),
        atr.alias("atr"),
        mid.alias("kc_mid"),
        (mid + KELTNER_MULT * atr).alias("kc_upper"),
        (mid - KELTNER_MULT * atr).alias("kc_lower"),
    ).orderBy("event_type", "bar_start")


@query(
    "garman_klass_vol",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ranked AS (
      SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS bar_start, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events_us
    ), bars AS (
      SELECT event_type, bar_start,
             MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
             CAST(MAX(value) AS DOUBLE) AS high,
             CAST(MIN(value) AS DOUBLE) AS low,
             MAX(CASE WHEN rn_close = 1 THEN value END) AS close
      FROM ranked GROUP BY event_type, bar_start
    ), terms AS (
      SELECT event_type, date_trunc('day', bar_start) AS day,
             CAST(0.5 * ln(high / low) * ln(high / low)
                  - {GK_COEF} * ln(close / open) * ln(close / open)
                  AS DECIMAL(30,6)) AS gk
      FROM bars WHERE low > 0 AND open > 0 AND close > 0
    )
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST(SUM(gk) AS DOUBLE) / COUNT(*) AS gk_var,
           CASE WHEN SUM(gk) >= 0
                THEN sqrt(CAST(SUM(gk) AS DOUBLE) / COUNT(*)) END AS gk_vol
    FROM terms GROUP BY event_type, day
    ORDER BY event_type, day
    """,
    tags=("A7", "A2"),
)
def garman_klass_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Garman–Klass (1980) range-based volatility per stream-day:
    per 6-hour OHLC bar the estimator ``0.5·ln(H/L)² − (2ln2−1)·ln(C/O)²``,
    averaged over the day's bars and square-rooted — ~7× more efficient
    per observation than close-to-close variance (``rolling_volatility``),
    which is why tick stores compute it from the SAME bar table the
    charting path already maintains.

    Numeric contract: the bar ratios H/L and C/O are identical doubles in
    both engines (order statistics + one correctly-rounded divide); each
    ln carries ~1-ulp libm-vs-StrictMath drift, absorbed by rounding the
    per-bar TERM into DECIMAL(30,6) before the daily sum — the
    ``unigram_logprob`` pattern at the ``dsum`` grain. The grain choice
    is a cross-engine-cast safety bound, measured the hard way: terms
    reach ~58 on this fixture (ULP ~7e-15), and a 1e-12 grain sits only
    ~70 ULPs above that — close enough that the two engines' independent
    double→decimal roundings were OBSERVED to split by one last-place
    unit on the sibling ``realized_bipower``/``amihud_illiquidity``
    magnitudes; 1e-6 restores the ~1e8 grain-to-ULP margin every dsum
    lane carries. The 2ln2−1
    coefficient is ONE shared double literal, never each engine's own
    ln(2). The decimal daily sum is order-free, so the emitted var/vol
    derive from identical operands — UNROUNDED. Degenerate bars guard:
    non-positive open/low/close rows are excluded identically (the
    fixture is all-positive; the predicate is the ANSI-divide/ln(≤0)
    firewall for real tapes). Negative daily sums (possible: the GK
    drift term can exceed the range term) emit NULL vol, identically.

    Scale: the same single ticks→bars hash aggregation ``ohlcv_bars``
    runs, then a (type, day) regroup of the tiny bar table — two
    partial+final aggregations, no window over ticks, no Python."""
    e = load_table(spark, sf_dir, "events")
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    bars = e.groupBy(
        "event_type", F.window("ts", "6 hours").start.alias("bar_start")
    ).agg(
        F.min_by("value", tiebreak).alias("open"),
        F.max("value").cast("double").alias("high"),
        F.min("value").cast("double").alias("low"),
        F.max_by("value", tiebreak).alias("close"),
    )
    lhl = F.log(F.col("high") / F.col("low"))
    lco = F.log(F.col("close") / F.col("open"))
    gk = (0.5 * lhl * lhl - GK_COEF * lco * lco).cast("decimal(30,6)")
    terms = bars.filter(
        (F.col("low") > 0) & (F.col("open") > 0) & (F.col("close") > 0)
    ).select(
        "event_type", F.date_trunc("day", "bar_start").alias("day"), gk.alias("gk")
    )
    s = F.sum("gk")
    return (
        terms.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bars"),
            (s.cast("double") / F.count(F.lit(1))).alias("gk_var"),
            F.when(
                s >= 0, F.sqrt(s.cast("double") / F.count(F.lit(1)))
            ).alias("gk_vol"),
        )
        .orderBy("event_type", "day")
    )


XCORR_MAX_LAG = 3  # hourly lags 0..3


@query(
    "lead_lag_xcorr",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    hourly AS (
      SELECT event_type, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) * 1000000 AS DECIMAL(18,0)) AS s
      FROM events_us GROUP BY event_type, h
    ), lags AS (
      SELECT unnest(generate_series(0, {XCORR_MAX_LAG})) AS lag_h
    ), paired AS (
      SELECT a.event_type AS lead_type, b.event_type AS lag_type,
             l.lag_h, a.s AS x, b.s AS y
      FROM hourly a
      CROSS JOIN lags l
      JOIN hourly b ON b.event_type > a.event_type AND b.h = a.h + l.lag_h
    ), m AS (
      SELECT lead_type, lag_type, lag_h,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy
      FROM paired GROUP BY lead_type, lag_type, lag_h
    )
    SELECT lead_type, lag_type, lag_h, n,
           CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
           END AS xcorr
    FROM m
    ORDER BY lead_type, lag_type, lag_h
    """,
    tags=("A7", "J6"),
)
def lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Lead–lag cross-correlation matrix: Pearson correlation
    between every ordered stream pair's hourly flow series, at lags
    0..{XCORR_MAX_LAG} hours (does stream A's volume this hour predict
    stream B's next hour?) — the signal-discovery scan behind pairs
    selection and lead-lag execution models, and the lagged
    generalization of ``rolling_pair_correlation`` (which is
    contemporaneous-only).

    Shape at scale — the decisive property is WHERE the correlation
    runs: one ticks→(type, hour) hash aggregation collapses the tape to
    a bar frame (bounded by types × hours, thousands of rows per year
    regardless of tick volume), and the pair×lag self-join + moment
    aggregation run entirely on that tiny frame — broadcastable, no
    fact-sized shuffle after the first. Missing hours pair only where
    BOTH series observed flow (pairwise-complete semantics; the
    zero-filled variant is one ``gapfill_bars`` spine away and
    deliberately not conflated here).

    Exactness: hourly sums are kept as ``dsum_scaled`` ×10^6 EXACT
    INTEGERS (DECIMAL(18,0)) rather than doubles, so all five moment
    lanes are pure decimal-integer arithmetic — identical in both
    engines BY CONSTRUCTION, with no double→decimal snap anywhere (the
    snapped-double formulation left the 1e-6 grain only ~537 ULPs above
    the sf0.1 ``x*x`` maxima — ADVICE r13 — inside the measured
    one-last-place split regime; this formulation removes the cast
    class entirely, and Pearson is scale-invariant so the ×10^6 never
    needs unscaling). The hour key is integer epoch-hours
    (``floor(epoch/3600)`` — DuckDB's fractional-seconds epoch and
    Spark's truncating ``unix_timestamp`` agree because a sub-second
    fraction cannot cross a 3600 s boundary), and the final formula is
    guarded against degenerate variance (NULL in both engines, never a
    div-by-zero NaN/inf split). Lane headroom (Σx² < 1e38, hourly
    |Σvalue| < 1e12) is fixture-asserted by
    ``test_xcorr_scaled_lane_headroom``."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
    ).agg(dsum_scaled("value").alias("s"))
    # pure-plan lag literal (Range, not createDataFrame — the catalog-wide
    # prepared-plan sweep forbids LogicalRDD leaves)
    lags = spark.range(XCORR_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag_h")
    )
    a = hourly.select(
        F.col("event_type").alias("lead_type"), F.col("h").alias("ha"), F.col("s").alias("x")
    )
    b = hourly.select(
        F.col("event_type").alias("lag_type"), F.col("h").alias("hb"), F.col("s").alias("y")
    )
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            (F.col("lag_type") > F.col("lead_type"))
            & (F.col("hb") == F.col("ha") + F.col("lag_h")),
        )
    )
    x, y = F.col("x"), F.col("y")
    # x/y are exact DECIMAL(18,0) scaled integers; widening one factor to
    # (19,0) mirrors the oracle text and keeps the product inside (38,0)
    # with no precision-loss rescale in either engine
    xw, yw = x.cast("decimal(19,0)"), y.cast("decimal(19,0)")
    m = paired.groupBy("lead_type", "lag_type", "lag_h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(xw * x).cast("double").alias("sxx"),
        F.sum(yw * y).cast("double").alias("syy"),
        F.sum(xw * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    varx = n * F.col("sxx") - sx * sx
    vary = n * F.col("syy") - sy * sy
    corr = (n * F.col("sxy") - sx * sy) / (F.sqrt(varx) * F.sqrt(vary))
    return m.select(
        "lead_type",
        "lag_type",
        "lag_h",
        "n",
        F.when((n > 1) & (varx > 0) & (vary > 0), F.round(corr, 6)).alias("xcorr"),
    ).orderBy("lead_type", "lag_type", "lag_h")


#: π/2 pinned as ONE double literal shared by both engines (the GK_COEF
#: rule: never let each engine evaluate its own transcendental constant).
BIPOWER_COEF = 1.5707963267948966


#: The BNS decomposition oracle — shared verbatim by the declarative
#: batch kernel (``realized_bipower``) and the streaming fold's batch
#: replay (``bipower_fold_series``): one ground truth, two engines'
#: worth of evidence (the ``incremental_ohlcv`` merge≡recompute
#: pattern — the twin queries must hash-match the SAME oracle, so the
#: fold and the declarative plan are proven equal THROUGH it).
_BIPOWER_ORACLE = """
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    rets AS (
      SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
             CASE WHEN value > 0
                   AND LAG(value) OVER w > 0
                   AND date_trunc('day', LAG(ts) OVER w) = date_trunc('day', ts)
                  THEN ln(value / LAG(value) OVER w)
             END AS r
      FROM events_us
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), pairs AS (
      SELECT event_type, day, r,
             LAG(r) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS rl
      FROM rets WHERE r IS NOT NULL
    ), terms AS (
      SELECT event_type, day,
             CAST(r * r AS DECIMAL(30,6)) AS rv_t,
             CASE WHEN rl IS NOT NULL
                  THEN CAST(ABS(r) * ABS(rl) AS DECIMAL(30,6)) END AS bv_t
      FROM pairs
    )
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_rets,
           CAST(SUM(rv_t) AS DOUBLE) AS rv,
           {coef} * CAST(SUM(bv_t) AS DOUBLE) AS bv,
           CASE WHEN CAST(SUM(rv_t) AS DOUBLE) > 0 AND SUM(bv_t) IS NOT NULL
                THEN GREATEST(1.0 - {coef} * CAST(SUM(bv_t) AS DOUBLE)
                              / CAST(SUM(rv_t) AS DOUBLE), 0.0) END AS jump_ratio
    FROM terms GROUP BY event_type, day
    ORDER BY event_type, day
""".format(coef=BIPOWER_COEF)


@query(
    "realized_bipower",
    oracle=_BIPOWER_ORACLE,
    tags=("A7", "W2"),
)
def realized_bipower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W2] Realized variance vs bipower variation per stream-day —
    the Barndorff-Nielsen–Shephard jump decomposition: RV = Σ r² picks
    up BOTH diffusion and jumps, BV = (π/2)·Σ|r_t||r_{t−1}| is
    jump-robust (a single outlier return enters BV linearly but RV
    quadratically), so ``jump_ratio = max(0, 1 − BV/RV)`` estimates the
    jump share of daily variance — the standard tick-data jump screen,
    run from the same intraday log-returns ``rolling_volatility``
    consumes. Returns never span a day boundary (the first tick of a
    day has no return), and the bipower lag restarts per (type, day) —
    both enforced identically in the two engines.

    Exactness: the ``roll_spread`` recipe — both lags ride ordered
    windows, each summand (r², |r_t||r_{t−1}|) is snapped to
    DECIMAL(30,6) before the daily sum (the dsum grain; a 1e-12 snap
    was MEASURED to split cross-engine at these ≤ ~120 magnitudes —
    see ``garman_klass_vol``'s grain note), and
    π/2 is ONE shared double literal. Degenerate days emit NULL
    identically in both engines: RV = 0 nulls the ratio, and a
    single-return day has NO bipower term, so BV is SUM-over-empty =
    NULL (never a fake 0 — BV is undefined there); negative sampling
    noise clamps to 0 via GREATEST.

    Scale: one (event_type)-keyed window pass over ticks for the
    return, one (type, day)-keyed pass for the bipower lag (the second
    sort is WITHIN the first's partitions — at scale both ride one
    exchange when the planner colocates, and the day regroup is
    partial+final over bar-sized output)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    day = F.date_trunc("day", "ts")
    prev_v = F.lag("value").over(w)
    prev_day = F.date_trunc("day", F.lag("ts").over(w))
    r = F.when(
        (F.col("value") > 0) & (prev_v > 0) & (prev_day == day),
        F.log(F.col("value") / prev_v),
    )
    rets = e.select(
        "event_type", day.alias("day"), "ts", "event_id", r.alias("r")
    ).filter(F.col("r").isNotNull())
    wd = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    pairs = rets.select(
        "event_type", "day", "r", F.lag("r").over(wd).alias("rl")
    )
    rv_t = (F.col("r") * F.col("r")).cast("decimal(30,6)")
    bv_t = F.when(
        F.col("rl").isNotNull(), (F.abs("r") * F.abs("rl")).cast("decimal(30,6)")
    )
    terms = pairs.select("event_type", "day", rv_t.alias("rv_t"), bv_t.alias("bv_t"))
    rv = F.sum("rv_t").cast("double")
    bv = F.lit(BIPOWER_COEF) * F.sum("bv_t").cast("double")
    return (
        terms.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rets"),
            rv.alias("rv"),
            bv.alias("bv"),
            # explicit bv-NULL guard: GREATEST SKIPS nulls in both
            # engines, so without it a single-return day (bv undefined)
            # would silently report jump_ratio = 0.0 instead of NULL
            F.when(
                (rv > 0) & F.sum("bv_t").isNotNull(),
                F.greatest(1.0 - bv / rv, F.lit(0.0)),
            ).alias("jump_ratio"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "bipower_fold_series",
    oracle=_BIPOWER_ORACLE,
    tags=("T10", "A7"),
)
def bipower_fold_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T10 batch twin] The streaming ``rv_bipower_stream`` state
    machine's pure fold (``streaming/stateful.py: rv_bipower_fold`` —
    the EXACT code the stateful operator executes per micro-batch) run
    over each event_type's full tick tape via ``applyInPandas``, SPLIT
    at the series midpoint with the seven-scalar state carried across
    the two fold calls — so the driver's DuckDB hash-compare verifies
    BOTH the fold arithmetic AND the cross-micro-batch state carry
    against the SAME oracle the declarative ``realized_bipower`` kernel
    hash-matches (the ``incremental_ohlcv`` merge≡recompute pattern:
    fold ≡ plan ≡ oracle, three ways). Ticks are pre-sorted by the full
    (ts, event_id) order BEFORE the fold — the fold's day arithmetic is
    ms-grain, but ordering keeps the µs-resolution tiebreak the batch
    window uses. Running rows superseded by a later emission of the
    same day collapse to the last (update semantics); zero-return days
    drop, matching the oracle's terms-GROUP-BY domain.

    Scale: one shuffle on the series key, O(1) state per key — the
    streaming variant's bounded-state posture, proven on the batch
    tape."""
    import pandas as pd

    from ..streaming.stateful import rv_bipower_fold

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        etype = pdf["event_type"].iloc[0]
        ticks = [
            (int(ts.value // 1_000_000), float(v))
            for ts, v in zip(pdf["ts"], pdf["value"])
        ]
        state = (None, None, None, 0, 0, 0, 0)
        state, rows1 = rv_bipower_fold(state, ticks[: len(ticks) // 2])
        _state, rows2 = rv_bipower_fold(state, ticks[len(ticks) // 2 :])
        last = {}  # update semantics: last emission per day wins
        for r in rows1 + rows2:
            last[r["day"]] = r
        keep = [r for r in last.values() if r["n_rets"] > 0]
        return pd.DataFrame(
            {
                "event_type": [etype] * len(keep),
                "day": [r["day"] for r in keep],
                "n_rets": [r["n_rets"] for r in keep],
                "rv": [r["rv"] for r in keep],
                "bv": [r["bv"] for r in keep],
                "jump_ratio": [r["jump_ratio"] for r in keep],
            }
        )

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    return (
        e.groupBy("event_type")
        .applyInPandas(
            fold,
            "event_type string, day timestamp, n_rets long, rv double, "
            "bv double, jump_ratio double",
        )
        .orderBy("event_type", "day")
    )


@query(
    "drawdown_fold_series",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    walk AS (
      SELECT event_type, value,
             MAX(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS run_peak
      FROM events_us
    )
    SELECT event_type,
           MAX(run_peak) AS peak,
           COALESCE(MAX(CASE WHEN run_peak > 0
                        THEN (run_peak - value) / run_peak END), 0.0)
             AS max_drawdown,
           CAST(COUNT(value) AS BIGINT) AS n_obs
    FROM walk GROUP BY event_type
    HAVING COUNT(value) > 0
    ORDER BY event_type
    """,
    tags=("T10", "A3"),
)
def drawdown_fold_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T10 batch twin] The Spark 4 ``transformWithStateInPandas``
    drawdown processor's pure fold (``streaming/stateful.py:
    drawdown_fold`` — the EXACT code ``max_drawdown_stream``'s
    ``DrawdownProcessor`` executes per micro-batch) replayed over each
    event_type's full tick tape via ``applyInPandas`` with a midpoint
    state split. The TWS runtime is protobuf-gated in this image
    (``tws_runtime_available`` — the processor's WIRING is pinned to
    the exact execution boundary by ``test_transform_with_state_
    boundary``), so this query is how the gated operator's LOGIC still
    earns driver-hashed oracle evidence: fold ≡ SQL running-peak walk,
    state carry inside the hash. Bit-exact with NO rounding: the
    running peak is an order statistic and each drawdown is two
    correctly-rounded IEEE ops on exact input doubles, so both engines
    select identical values.

    Scale: one shuffle on the series key; the streaming operator holds
    one (peak, mdd, n) triple per live symbol."""
    import pandas as pd

    from ..streaming.stateful import drawdown_fold

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        prices = pdf["value"].tolist()
        peak, mdd, n = drawdown_fold(
            float("-inf"), 0.0, 0, prices[: len(prices) // 2]
        )
        peak, mdd, n = drawdown_fold(peak, mdd, n, prices[len(prices) // 2 :])
        if n == 0:
            return pd.DataFrame(
                {"event_type": [], "peak": [], "max_drawdown": [], "n_obs": []}
            )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "peak": [peak],
                "max_drawdown": [mdd],
                "n_obs": [n],
            }
        )

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    return (
        e.groupBy("event_type")
        .applyInPandas(
            fold,
            "event_type string, peak double, max_drawdown double, n_obs long",
        )
        .orderBy("event_type")
    )


@query(
    "amihud_illiquidity",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ranked AS (
      SELECT event_type, date_trunc('day', ts) AS day, value,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events_us
    ), days AS (
      SELECT event_type, day,
             MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
             CAST(SUM(CAST(value * k AS DECIMAL(30,6))) AS DOUBLE) AS dvol
      FROM ranked GROUP BY event_type, day
    ), rets AS (
      SELECT event_type, day, dvol,
             CASE WHEN close > 0 AND LAG(close) OVER w > 0
                  THEN ABS(close / LAG(close) OVER w - 1.0) END AS aret
      FROM days
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), ratios AS (
      SELECT event_type,
             CAST(aret / dvol * 1000000.0 AS DECIMAL(30,6)) AS illiq_d
      FROM rets WHERE aret IS NOT NULL AND dvol > 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(illiq_d) AS DOUBLE) / COUNT(*) AS amihud_illiq
    FROM ratios GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A7", "F9"),
)
def amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Amihud (2002) illiquidity — mean over days of
    ``|daily return| / daily dollar volume`` (×1e6) per stream: the
    price-impact-per-traded-dollar measure that complements
    ``roll_spread`` (transaction cost) in the microstructure panel, and
    the canonical cross-sectional liquidity factor input. Daily close
    is the deterministic last-tick election (the ``ohlcv_bars``
    tiebreak), dollar volume the exact decimal Σ value·k over the
    ``vwap`` volume field.

    Exactness: close/dvol are identical doubles cross-engine (order
    statistics + dsum); the per-day ratio is one identical IEEE
    divide snapped to DECIMAL(30,6) before the cross-day mean, making
    the mean order-free (the 1e-12 grain this started at SPLIT by one
    last-place unit at these ~1e2-1e3 magnitudes — see
    ``garman_klass_vol``'s grain note); the final divide-by-count is
    identical.
    Zero-volume and first days drop identically (NULL/guard predicate).

    Scale: one ticks→days hash aggregation (map-side partials absorb
    the tape), then a day-count window and regroup over the tiny daily
    frame — the ``garman_klass_vol`` shape with a JSON field extraction
    riding the first scan."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    days = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.max_by("value", tiebreak).alias("close"),
        dsum(F.col("value") * k).alias("dvol"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("close").over(w)
    aret = F.when(
        (F.col("close") > 0) & (prev > 0), F.abs(F.col("close") / prev - 1.0)
    )
    rets = days.select("event_type", "dvol", aret.alias("aret")).filter(
        F.col("aret").isNotNull() & (F.col("dvol") > 0)
    )
    illiq_d = (F.col("aret") / F.col("dvol") * 1000000.0).cast("decimal(30,6)")
    return (
        rets.select("event_type", illiq_d.alias("illiq_d"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            (F.sum("illiq_d").cast("double") / F.count(F.lit(1))).alias(
                "amihud_illiq"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "gapfill_bars",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ranked AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '1 hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events_us
    ), bars AS (
      SELECT event_type, h,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(CASE WHEN rn_close = 1 THEN value END) AS close
      FROM ranked GROUP BY event_type, h
    ), bounds AS (
      SELECT MIN(h) AS mn, MAX(h) AS mx FROM bars
    ), spine AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events_us) t
      CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS h
                  FROM bounds) g
    )
    SELECT s.event_type, s.h AS bar_start,
           COALESCE(b.n_events, 0) AS n_events,
           b.close AS close,
           LAST_VALUE(b.close IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_filled
    FROM spine s LEFT JOIN bars b ON s.event_type = b.event_type AND s.h = b.h
    ORDER BY s.event_type, bar_start
    """,
    tags=("A2", "W7"),
)
def gapfill_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A2/W7] Gap-filled hourly bars — the ``time_bucket_gapfill`` /
    calendar-spine operation every charting or model-training consumer
    needs: a DENSE (event_type × hour) grid over the observed range, with
    empty hours carrying n_events = 0 and the last known close carried
    forward (leading gaps stay NULL — there is nothing to carry).

    Shape at scale: the bar table is already aggregated (tiny vs ticks);
    the spine is a broadcast-sized sequence cross-joined with the
    distinct-keys dim; the forward fill is one keyed window over bars,
    never over raw ticks."""
    e = load_table(spark, sf_dir, "events")
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        e.groupBy("event_type", F.window("ts", "1 hour").start.alias("h"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max_by("value", tiebreak).alias("close"),
        )
    )
    bounds = bars.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    hours = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("h")
    )
    types = e.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(hours))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(bars, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").alias("bar_start"),
            F.coalesce(F.col("n_events"), F.lit(0).cast("bigint")).alias("n_events"),
            "close",
            F.last("close", ignorenulls=True).over(w).alias("close_filled"),
        )
        .orderBy("event_type", "bar_start")
    )


EWMA_WINDOW = 50  # truncation length; weight below 0.25^49 ~ 1e-30 is noise
EWMA_DECAY = 0.25  # dyadic: 2^-2, so every weight is an EXACT power of two


@query(
    "ewma",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT event_id, event_type, ts, value,
           ROUND(0.75 * list_reduce(
                   list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                     ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW),
                   (acc, x) -> acc * {EWMA_DECAY} + x), 6) AS ewma
    FROM events_us
    WHERE value IS NOT NULL
    ORDER BY event_id
    """,
    tags=("W2", "A2"),
)
def ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per event_type — the
    standard smoothing pass of a trading signal pipeline (alpha = 0.75,
    window-truncated at 50 samples where the remaining weight is
    ~1e-30). Determinism by construction rather than tolerance: the
    decay 0.25 is DYADIC (2^-2), so every weight is an exact power of
    two and each multiply is exact scaling; the only roundings are the
    adds of the Horner fold ``acc*q + x``, which both engines execute in
    identical frame order (Spark ``F.aggregate`` and DuckDB
    ``list_reduce`` are both left folds, and a left fold with init 0
    equals DuckDB's first-element init since 0*q + x1 = x1). A non-dyadic
    alpha via ``pow()`` would instead inherit libm-vs-StrictMath ULP
    drift.

    Scale: one shuffle on event_type, then a bounded 50-element frame
    per row — no unbounded state, no recursion; the same plan is the
    streaming ``withWatermark`` + sliding-window shape.

    BOUNDED-FRAME CONTRACT (applies to every ``collect_list().over(
    rowsBetween(-k, 0))`` Horner fold — ewma, macd, and the indicator
    family): the per-row array materializes k doubles per output row,
    O(k × rows) transient memory in the window operator. That is safe
    for k ≤ ~100 (≤ 800 B/row — smaller than the row it annotates) and
    is NOT a general unbounded-frame pattern: for growing or unbounded
    frames (cumulative EMA over a full series) the formulation must
    switch to the sessionized stateful fold (``ewma_stream_ordered`` /
    ``position_ledger``'s applyInPandas shape), which carries one scalar
    of state instead of the frame. See SCALE.md §Aggregation."""
    # NULL guard is parity-critical: Spark's collect_list SKIPS NULLs
    # while DuckDB's windowed list() keeps them — one NULL value row
    # would silently shift every downstream frame between engines
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), Window.currentRow)
    )
    arr = F.collect_list("value").over(w)
    horner = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc * F.lit(EWMA_DECAY) + x
    )
    return e.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.round(F.lit(1 - EWMA_DECAY) * horner, 6).alias("ewma"),
    ).orderBy("event_id")


@query(
    "running_drawdown",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT event_id, event_type, ts, value,
           peak,
           CASE WHEN peak > 0 THEN ROUND((value - peak) / peak, 6)
                ELSE NULL END AS drawdown
    FROM (
      SELECT event_id, event_type, ts, value,
             MAX(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM events_us
    )
    ORDER BY event_id
    """,
    tags=("W4",),
)
def running_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak and drawdown-from-peak per event_type — the
    risk-monitoring window (max drawdown is the worst of these). The
    running MAX is exact (no float accumulation), the single divide is
    identically rounded in both engines, and non-positive peaks yield
    NULL (the degenerate-divide rule)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("value").over(w)
    dd = F.when(F.col("peak") > 0, F.round((F.col("value") - F.col("peak")) / F.col("peak"), 6))
    return (
        e.select("event_id", "event_type", "ts", "value", peak.alias("peak"))
        .select("event_id", "event_type", "ts", "value", "peak", dd.alias("drawdown"))
        .orderBy("event_id")
    )


DONCHIAN_WINDOW = 20


@query(
    "donchian_channel",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT event_id, event_type, ts, value, ch_hi, ch_lo,
           CASE WHEN ch_hi > ch_lo
                THEN ROUND((value - ch_lo) / (ch_hi - ch_lo), 6)
                ELSE NULL END AS channel_pos
    FROM (
      SELECT event_id, event_type, ts, value,
             MAX(value) OVER w AS ch_hi,
             MIN(value) OVER w AS ch_lo
      FROM events_us
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {DONCHIAN_WINDOW - 1} PRECEDING AND CURRENT ROW)
    )
    ORDER BY event_id
    """,
    tags=("W4",),
)
def donchian_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel: trailing-window high/low band and the value's
    position inside it — the breakout-detection primitive. Channel
    bounds are exact order statistics (no float accumulation); the
    position divide is NULL when the band is degenerate (all equal in
    the window), identically in both engines."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(DONCHIAN_WINDOW - 1), Window.currentRow)
    )
    hi, lo = F.max("value").over(w), F.min("value").over(w)
    pos = F.when(
        F.col("ch_hi") > F.col("ch_lo"),
        F.round((F.col("value") - F.col("ch_lo")) / (F.col("ch_hi") - F.col("ch_lo")), 6),
    )
    return (
        e.select("event_id", "event_type", "ts", "value", hi.alias("ch_hi"), lo.alias("ch_lo"))
        .select("event_id", "event_type", "ts", "value", "ch_hi", "ch_lo", pos.alias("channel_pos"))
        .orderBy("event_id")
    )


VOL_WINDOW = 20


@query(
    "rolling_volatility",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    rets AS (
      SELECT event_id, event_type, ts,
             CASE WHEN value > 0
                   AND LAG(value) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) > 0
                  THEN ln(value / LAG(value) OVER (PARTITION BY event_type
                                                   ORDER BY ts, event_id))
             END AS r
      FROM events_us
    ), framed AS (
      SELECT event_id, event_type, ts, r,
             list(r) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN {VOL_WINDOW - 1} PRECEDING AND CURRENT ROW)
               AS win
      FROM rets WHERE r IS NOT NULL
    ), sums AS (
      SELECT event_id, event_type, ts, r,
             len(win) AS n_obs,
             list_reduce(win, (a, x) -> a + x) AS s1,
             list_reduce(list_transform(win, x -> x * x), (a, x) -> a + x) AS s2
      FROM framed
    )
    SELECT event_id, event_type, ts, ROUND(r, 6) AS log_return,
           CAST(n_obs AS INT) AS n_obs,
           CASE WHEN n_obs > 1 AND (s2 - s1 * s1 / n_obs) > 0
                THEN ROUND(sqrt((s2 - s1 * s1 / n_obs) / (n_obs - 1)), 6)
                ELSE NULL END AS volatility
    FROM sums
    ORDER BY event_id
    """,
    tags=("W2", "A7"),
)
def rolling_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling log-return volatility (trailing-20 sample stddev) — the
    risk metric every trading pipeline computes next to VWAP/EWMA.
    Determinism discipline: the frame's sums are EXPLICIT left folds
    over the ordered frame list (Spark ``F.aggregate`` / DuckDB
    ``list_reduce`` — identical add order), never the engines' native
    windowed SUM whose segment-tree accumulation order differs; rows
    with no prior value are filtered BEFORE windowing because Spark's
    ``collect_list`` drops NULLs while DuckDB's ``list()`` keeps them;
    the variance is guarded against cancellation-negative and n=1
    (NULL in both engines). ln's cross-engine ULP drift is ~1e-15
    relative — far below the 6-digit rounding grain (the
    ``word_entropy`` precedent)."""
    e = load_table(spark, sf_dir, "events")
    wlag = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(wlag)
    # non-positive prices (sf0.1 carries value=0 rows) would make the
    # divide throw under ANSI mode / ln produce ±inf — the CASE guard
    # short-circuits the divide identically in both engines
    r = F.when((F.col("value") > 0) & (prev > 0), F.log(F.col("value") / prev))
    rets = e.select(
        "event_id",
        "event_type",
        "ts",
        r.alias("r"),
    ).filter(F.col("r").isNotNull())
    wframe = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(VOL_WINDOW - 1), Window.currentRow)
    )
    framed = rets.select(
        "event_id", "event_type", "ts", "r", F.collect_list("r").over(wframe).alias("win")
    )
    s1 = F.aggregate("win", F.lit(0.0), lambda a, x: a + x)
    s2 = F.aggregate(
        F.transform("win", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    sums = framed.select(
        "event_id",
        "event_type",
        "ts",
        "r",
        F.size("win").alias("n_obs"),
        s1.alias("s1"),
        s2.alias("s2"),
    )
    n = F.col("n_obs").cast("double")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    vol = F.when((F.col("n_obs") > 1) & (var > 0), F.round(F.sqrt(var), 6))
    return sums.select(
        "event_id",
        "event_type",
        "ts",
        F.round("r", 6).alias("log_return"),
        F.col("n_obs").cast("int").alias("n_obs"),
        vol.alias("volatility"),
    ).orderBy("event_id")


@query(
    "asof_join_tolerance",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT l.event_id, l.user_id, l.ts, l.value AS purchase_value,
           CASE WHEN r.ts >= l.ts - INTERVAL '1 hour' THEN r.ts END AS last_click_ts,
           CASE WHEN r.ts >= l.ts - INTERVAL '1 hour' THEN r.value END AS last_click_value
    FROM (SELECT * FROM events_us WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT user_id, ts, max_by(value, event_id) AS value
                    FROM events_us WHERE event_type = 'click'
                    GROUP BY user_id, ts) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    tags=("J5",),
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J5] As-of join with a lookback TOLERANCE (1 hour): the matched
    click must be at-or-before the purchase AND no older than the
    tolerance — the market-data variant ("last quote, but only if it's
    fresh") that pandas ``merge_asof(tolerance=...)`` and kdb ``wj``
    express. Same union + carry-forward single-shuffle shape as
    ``asof_join``; staleness is a post-carry NULL-out, so the tolerance
    costs zero extra shuffles or state. The oracle applies the identical
    CASE to DuckDB's native ASOF match, over a click side pre-deduped to
    one row per (user_id, ts) — same tie rationale as ``asof_join``."""
    e = load_table(spark, sf_dir, "events")
    unioned = _purchase_click_sides(e)
    w = Window.partitionBy("user_id").orderBy("ts", "side", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # struct carry, same rationale as asof_join: a NULL click value must
    # ride with its own ts, never be skipped in favor of an older value
    r_row = F.when(F.col("side") == 0, F.struct("ts", "value"))
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "side",
        F.last(r_row, ignorenulls=True).over(w).alias("click"),
    )
    fresh = F.col("click.ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("purchase_value"),
            F.when(fresh, F.col("click.ts")).alias("last_click_ts"),
            F.when(fresh, F.col("click.value")).alias("last_click_value"),
        )
    )


@query(
    "asof_join_forward",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT l.event_id, l.user_id, l.ts, l.value AS purchase_value,
           r.ts AS next_click_ts, r.value AS next_click_value
    FROM (SELECT * FROM events_us WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT user_id, ts, min_by(value, event_id) AS value
                    FROM events_us WHERE event_type = 'click'
                    GROUP BY user_id, ts) r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
    tags=("J5",),
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J5] FORWARD as-of join — for each purchase, the EARLIEST click
    at-or-after it per user (pandas ``merge_asof(direction='forward')``;
    the "next quote after the order" lookup). Mirror image of
    ``asof_join``: same union shape, but the carry runs over the
    [currentRow, unboundedFollowing] frame with ``first(ignorenulls)``.
    Tie semantics: at equal ts, purchases sort BEFORE clicks (side
    descending) so ``l.ts <= r.ts`` stays inclusive; among equal-ts
    clicks the smallest event_id wins, and the oracle pre-dedupes the
    click side with ``min_by(value, event_id)`` to the same pick (DuckDB
    ASOF's own tie choice is arbitrary). Still ONE shuffle on user_id —
    the direction flip costs nothing."""
    e = load_table(spark, sf_dir, "events")
    unioned = _purchase_click_sides(e)
    w = Window.partitionBy("user_id").orderBy(
        "ts", F.desc("side"), "event_id"
    ).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    r_row = F.when(F.col("side") == 0, F.struct("ts", "value"))
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "side",
        F.first(r_row, ignorenulls=True).over(w).alias("click"),
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("purchase_value"),
            F.col("click.ts").alias("next_click_ts"),
            F.col("click.value").alias("next_click_value"),
        )
    )


#: nearest-direction as-of tolerance: ±30 minutes, in exact µs
_NEAREST_TOL_US = 30 * 60 * 1_000_000


@query(
    "asof_join_nearest",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    l AS (SELECT * FROM events_us WHERE event_type = 'purchase'),
    cb AS (SELECT user_id, ts, max_by(value, event_id) AS value
           FROM events_us WHERE event_type = 'click' GROUP BY user_id, ts),
    cf AS (SELECT user_id, ts, min_by(value, event_id) AS value
           FROM events_us WHERE event_type = 'click' GROUP BY user_id, ts),
    b AS (SELECT l.event_id, r.ts AS bts, r.value AS bval
          FROM l ASOF LEFT JOIN cb r
            ON l.user_id = r.user_id AND l.ts >= r.ts),
    f AS (SELECT l.event_id, r.ts AS fts, r.value AS fval
          FROM l ASOF LEFT JOIN cf r
            ON l.user_id = r.user_id AND l.ts < r.ts),
    j AS (
      SELECT l.event_id, l.user_id, l.ts, l.value AS purchase_value,
             b.bts, b.bval, f.fts, f.fval,
             CASE WHEN b.bts IS NOT NULL
                       AND epoch_us(l.ts) - epoch_us(b.bts) <= {_NEAREST_TOL_US}
                  THEN epoch_us(l.ts) - epoch_us(b.bts) END AS bdt,
             CASE WHEN f.fts IS NOT NULL
                       AND epoch_us(f.fts) - epoch_us(l.ts) <= {_NEAREST_TOL_US}
                  THEN epoch_us(f.fts) - epoch_us(l.ts) END AS fdt
      FROM l JOIN b USING (event_id) JOIN f USING (event_id)
    )
    SELECT event_id, user_id, ts, purchase_value,
           CASE WHEN bdt IS NOT NULL AND (fdt IS NULL OR bdt <= fdt) THEN bts
                WHEN fdt IS NOT NULL THEN fts END AS nearest_click_ts,
           CASE WHEN bdt IS NOT NULL AND (fdt IS NULL OR bdt <= fdt) THEN bval
                WHEN fdt IS NOT NULL THEN fval END AS nearest_click_value,
           CASE WHEN bdt IS NOT NULL AND (fdt IS NULL OR bdt <= fdt) THEN 'backward'
                WHEN fdt IS NOT NULL THEN 'forward' END AS direction
    FROM j
    """,
    tags=("J5",),
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J5] NEAREST as-of join with tolerance — for each purchase, the
    click closest in time in EITHER direction within ±30 minutes, ties
    preferring the at-or-before side (pandas
    ``merge_asof(direction='nearest', tolerance=...)``). Completes the
    direction family next to ``asof_join`` (backward),
    ``asof_join_forward`` and ``asof_join_tolerance``.

    Shape: the same single-shuffle union trick as the other three, but
    BOTH carries ride one window ordering — backward as
    ``last(ignorenulls)`` over [unbounded, current] and forward as
    ``first(ignorenulls)`` over [current, unbounded]. One exchange on
    user_id, ONE partition sort: with purchases ordered after equal-ts
    clicks, the backward frame is at-or-before-inclusive (equal-ts tie
    picks the max event_id — the oracle's ``max_by``) and the forward
    frame is strictly-after (min event_id at equal future ts — the
    oracle's ``min_by``); the dt=0 case belongs to backward by the tie
    rule, so no candidate is counted twice. The nearest election
    compares exact epoch-µs longs — no float anywhere in the decision."""
    e = load_table(spark, sf_dir, "events")
    unioned = _purchase_click_sides(e)
    order = ["ts", "side", "event_id"]
    w_b = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_f = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    r_row = F.when(F.col("side") == 0, F.struct("ts", "value"))
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "side",
        F.last(r_row, ignorenulls=True).over(w_b).alias("cb"),
        F.first(r_row, ignorenulls=True).over(w_f).alias("cf"),
    ).filter(F.col("side") == 1)
    us = F.unix_micros(F.col("ts"))
    bdt = F.when(
        F.col("cb").isNotNull()
        & ((us - F.unix_micros(F.col("cb.ts"))) <= _NEAREST_TOL_US),
        us - F.unix_micros(F.col("cb.ts")),
    )
    fdt = F.when(
        F.col("cf").isNotNull()
        & ((F.unix_micros(F.col("cf.ts")) - us) <= _NEAREST_TOL_US),
        F.unix_micros(F.col("cf.ts")) - us,
    )
    pick_b = bdt.isNotNull() & (fdt.isNull() | (bdt <= fdt))
    pick_f = fdt.isNotNull()
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.when(pick_b, F.col("cb.ts")).when(pick_f, F.col("cf.ts")).alias(
            "nearest_click_ts"
        ),
        F.when(pick_b, F.col("cb.value")).when(pick_f, F.col("cf.value")).alias(
            "nearest_click_value"
        ),
        F.when(pick_b, F.lit("backward")).when(pick_f, F.lit("forward")).alias(
            "direction"
        ),
    )


@query(
    "position_ledger",
    oracle="""
    WITH fills AS (
      SELECT event_type AS symbol,
             CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END AS side,
             (event_id % 10) + 1 AS volume,
             value AS price
      FROM events
    )
    SELECT symbol,
           CAST(SUM(side * volume) AS BIGINT) AS position,
           CAST(SUM(CAST(-side * price * volume AS DECIMAL(30,6))) AS DOUBLE)
             AS cash_flow,
           CAST(COUNT(*) AS BIGINT) AS n_fills
    FROM fills GROUP BY symbol ORDER BY symbol
    """,
    tags=("T10",),
)
def position_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T10 batch twin] The ledger semantics of the streaming
    ``running_position`` stateful operator (position = Σ side·qty,
    cash_flow = Σ −side·price·qty) as an oracle-checkable batch query:
    events mapped to a deterministic fills ledger (side/volume derived
    from event_id, price = value). Both folds are plain order-independent
    sums, so the driver's hash verification of this query pins exactly
    the arithmetic the streaming state carries;
    ``test_running_position_matches_position_ledger_semantics`` pins the
    streaming operator to the same numbers over a shared fixture."""
    e = load_table(spark, sf_dir, "events")
    side = F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    volume = (F.col("event_id") % 10) + 1
    return (
        e.select(
            F.col("event_type").alias("symbol"),
            side.alias("side"),
            volume.alias("volume"),
            F.col("value").alias("price"),
        )
        .groupBy("symbol")
        .agg(
            F.sum(F.col("side") * F.col("volume")).cast("bigint").alias("position"),
            dsum(-F.col("side") * F.col("price") * F.col("volume")).alias("cash_flow"),
            F.count(F.lit(1)).alias("n_fills"),
        )
        .orderBy("symbol")
    )


@query(
    "session_fold_sessions",
    oracle="""
    WITH marks AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts > LAG(ts) OVER w + INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CASE WHEN value >= 0
                              THEN FLOOR(value * 100 + 0.5)
                              ELSE -FLOOR(-value * 100 + 0.5) END AS BIGINT))
                AS DOUBLE) / 100 AS sum_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("T9", "T10"),
)
def session_fold_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T9/T10 batch twin] Gap-based sessionization through the SAME
    ``sweep_merge_sessions`` fold the streaming stateful sessionizer
    (``streaming/stateful.py: session_stream``) executes per micro-batch
    — run here over the whole history per key via ``applyInPandas``, so
    the driver's DuckDB hash-compare (LAG-gap sessionization in SQL)
    verifies the custom fold's semantics, not a parallel
    reimplementation. Values accumulate as exact integer cents
    (sign-aware half-up, the engine's standard rounding) so the
    per-session sum is order-independent and bit-identical across
    engines. Scale: one shuffle on the session key; state per group
    during the fold is O(sessions), and the streaming variant holds only
    the single open session per key."""
    import pandas as pd

    from ..streaming.stateful import sweep_merge_sessions

    gap_us = 10 * 60 * 1_000_000  # 10 minutes in microseconds

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        items = []
        for ts, v in zip(pdf["ts"], pdf["value"]):
            us = ts.value // 1_000  # ns → µs (lossless: parquet stores µs)
            v = 0.0 if v is None or pd.isna(v) else float(v)
            cents = int(v * 100 + 0.5) if v >= 0 else -int(-v * 100 + 0.5)
            items.append([us, us, 1, cents])
        merged = sweep_merge_sessions(items, gap_us)
        uid = pdf["user_id"].iloc[0]
        return pd.DataFrame(
            {
                "user_id": [uid] * len(merged),
                "session_start": [pd.to_datetime(s[0], unit="us") for s in merged],
                "session_end": [pd.to_datetime(s[1], unit="us") for s in merged],
                "n_events": [s[2] for s in merged],
                "sum_value": [s[3] / 100 for s in merged],
            }
        )

    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    return (
        e.groupBy("user_id")
        .applyInPandas(fold, out_schema)
        .orderBy("user_id", "session_start")
    )


@query(
    "rsi_fold_series",
    oracle="""
    WITH cents AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ), px AS (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER w AS n_obs,
             c - LAG(c) OVER w AS diff
      FROM cents
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), acc AS (
      SELECT o_custkey, o_orderkey, n_obs,
             CAST(SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w7
                  AS DOUBLE) AS gain,
             CAST(SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w7
                  AS DOUBLE) AS loss,
             COUNT(diff) OVER w7 AS n_diffs
      FROM px
      WINDOW w7 AS (PARTITION BY o_custkey ORDER BY n_obs
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey,
           CASE WHEN loss = 0.0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + gain / loss) END AS rsi,
           CAST(n_obs AS BIGINT) AS n_obs
    FROM acc WHERE n_diffs = 7
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("T10", "A3"),
)
def rsi_fold_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T10 batch twin] The streaming ``rsi_stream`` state machine's
    pure fold (``streaming/stateful.py: rsi_fold`` — the EXACT code the
    stateful operator executes per micro-batch) run over each customer's
    full order history via ``applyInPandas``, so the driver's DuckDB
    hash-compare verifies the fold itself, not a parallel
    reimplementation (the ``position_ledger`` /
    ``session_fold_sessions`` pattern). Prices are framed as exact
    integer cents BEFORE the fold: the fold's plain-double
    left-to-right gain/loss sums are then sums of small integers —
    exact in IEEE doubles, hence order-independent and equal to the
    oracle's BIGINT window sums — and the final RSI expression is the
    identical double op sequence in both engines (zero-loss branch pins
    100 exactly). Scale: one shuffle on the series key; the streaming
    variant holds only a 7-diff ring per key."""
    import math

    import pandas as pd

    from ..streaming.stateful import RSI_PERIOD, rsi_fold

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_orderdate", "o_orderkey"])
        custkey = pdf["o_custkey"].iloc[0]
        ripe = [
            (int(k), float(math.floor(p * 100 + 0.5)))
            for k, p in zip(pdf["o_orderkey"], pdf["o_totalprice"])
        ]
        _px, _diffs, _n, rows = rsi_fold(0.0, [], 0, ripe)
        return pd.DataFrame(
            {
                "o_custkey": [custkey] * len(rows),
                "o_orderkey": [r[0] for r in rows],
                "rsi": [r[1] for r in rows],
                "n_obs": [r[2] for r in rows],
            }
        )

    assert RSI_PERIOD == 7  # the oracle's n_diffs filter is hardwired
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return (
        o.groupBy("o_custkey")
        .applyInPandas(fold, "o_custkey long, o_orderkey long, rsi double, n_obs long")
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "macd_fold_series",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    m AS (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS n_obs,
             ROUND({2 / 13!r} * list_reduce(
                     list(value) OVER w50, (acc, x) -> acc * {_MACD_Q_FAST!r} + x)
                     / {_MACD_W_FAST!r}
                   - {2 / 27!r} * list_reduce(
                     list(value) OVER w50, (acc, x) -> acc * {_MACD_Q_SLOW!r} + x)
                     / {_MACD_W_SLOW!r},
                   6) AS macd_line
      FROM events_us
      WHERE value IS NOT NULL
      WINDOW w50 AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN {MACD_WINDOW - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, macd_line,
           ROUND({0.2!r} * list_reduce(
                   list(macd_line) OVER w9, (acc, x) -> acc * {_MACD_Q_SIG!r} + x)
                   / {_MACD_W_SIG!r},
                 6) AS signal_line,
           CAST(n_obs AS BIGINT) AS n_obs
    FROM m
    WINDOW w9 AS (PARTITION BY event_type ORDER BY n_obs
                  ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
    tags=("T10", "A3"),
)
def macd_fold_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T10 batch twin] The streaming ``macd_stream`` state machine's
    pure fold (``streaming/stateful.py: macd_fold``) over each
    event_type's full tick history via ``applyInPandas`` — the driver
    hashes the output of the very truncated-Horner/round-then-fold code
    the stateful operator runs, against the batch ``macd`` query's
    proven DuckDB oracle (list_reduce left-folds). The unit suite pins
    stream≡batch bit-equality (``test_macd_stream_matches_batch_query``);
    this entry gives the fold a driver-hashed row of its own. Scale: one
    shuffle on the series key; streaming state is a 50-price +
    9-macd ring per key."""
    import pandas as pd

    from ..streaming.stateful import macd_fold

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        etype = pdf["event_type"].iloc[0]
        ripe = [(int(k), float(v)) for k, v in zip(pdf["event_id"], pdf["value"])]
        _r50, _r9, _n, rows = macd_fold([], [], 0, ripe)
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "event_type": [etype] * len(rows),
                "macd_line": [r[1] for r in rows],
                "signal_line": [r[2] for r in rows],
                "n_obs": [r[3] for r in rows],
            }
        )

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "ts", "value")
    )
    return (
        e.groupBy("event_type")
        .applyInPandas(
            fold,
            "event_id long, event_type string, macd_line double, "
            "signal_line double, n_obs long",
        )
        .orderBy("event_id")
    )


@query(
    "bollinger_fold_series",
    oracle="""
    WITH cents AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ), acc AS (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS n_obs,
             SUM(c) OVER w AS s1c,
             SUM(c * c) OVER w AS s2c,
             COUNT(*) OVER w AS n
      FROM cents
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey, sma, sigma,
           sma - 2.0 * sigma AS lower_band,
           sma + 2.0 * sigma AS upper_band,
           CAST(n_obs AS BIGINT) AS n_obs
    FROM (
      SELECT o_custkey, o_orderkey, n_obs, n,
             CAST(s1c AS DOUBLE) / 10 / 100.0 AS sma,
             sqrt(GREATEST(CAST(10 * s2c - s1c * s1c AS DOUBLE)
                           / (10 * 10) / 10000.0, 0.0)) AS sigma
      FROM acc
    ) WHERE n = 10
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("T10", "A3"),
)
def bollinger_fold_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T10 batch twin] The streaming ``bollinger_stream`` state
    machine's pure fold (``streaming/stateful.py: bollinger_fold``) over
    each customer's full order history via ``applyInPandas`` — exact
    integer-cents moments inside the fold, identical IEEE
    mean/σ/band expressions in the oracle, so the driver hash-verifies
    the very code the stateful operator executes per micro-batch
    (stream≡batch already unit-pinned by
    ``test_bollinger_stream_matches_batch_window``). Scale: one shuffle
    on the series key; streaming state is a 10-cent ring per key."""
    import pandas as pd

    from ..streaming.stateful import bollinger_fold

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_orderdate", "o_orderkey"])
        custkey = pdf["o_custkey"].iloc[0]
        ripe = [
            (int(k), float(p))
            for k, p in zip(pdf["o_orderkey"], pdf["o_totalprice"])
        ]
        _ring, _n, rows = bollinger_fold([], 0, ripe)
        return pd.DataFrame(
            {
                "o_custkey": [custkey] * len(rows),
                "o_orderkey": [r[0] for r in rows],
                "sma": [r[1] for r in rows],
                "sigma": [r[2] for r in rows],
                "lower_band": [r[3] for r in rows],
                "upper_band": [r[4] for r in rows],
                "n_obs": [r[5] for r in rows],
            }
        )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return (
        o.groupBy("o_custkey")
        .applyInPandas(
            fold,
            "o_custkey long, o_orderkey long, sma double, sigma double, "
            "lower_band double, upper_band double, n_obs long",
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "rsi_indicator",
    oracle="""
    WITH px AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             o_totalprice - LAG(o_totalprice) OVER w AS diff
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), acc AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(SUM(CAST(CASE WHEN diff > 0 THEN diff ELSE 0 END
                           AS DECIMAL(30,6))) OVER w7 AS DOUBLE) AS sum_gain,
             CAST(SUM(CAST(CASE WHEN diff < 0 THEN -diff ELSE 0 END
                           AS DECIMAL(30,6))) OVER w7 AS DOUBLE) AS sum_loss,
             COUNT(diff) OVER w7 AS n_diffs
      FROM px
      WINDOW w7 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey, o_orderdate, sum_gain, sum_loss,
           CASE WHEN sum_loss = 0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + sum_gain / sum_loss) END AS rsi
    FROM acc WHERE n_diffs = 7
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("A3", "W2"),
)
def rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] Relative Strength Index (7-period, SMA form) over each
    customer's order-price series — the classic momentum oscillator of
    the reference's stock-analytics domain. Gains/losses accumulate in
    exact DECIMAL over the 7-row frame (order-independent under partial
    window evaluation), and the final RSI is the identical double
    expression in both engines; the zero-loss branch pins RSI=100 so no
    division-by-zero semantics differ. One shuffle on the partition key;
    frames evaluate within partitions — the same shape at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w7 = w.rowsBetween(-6, 0)
    diff = F.col("o_totalprice") - F.lag("o_totalprice").over(w)
    gain = F.when(diff > 0, diff).otherwise(F.lit(0))
    loss = F.when(diff < 0, -diff).otherwise(F.lit(0))
    acc = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(gain.cast("decimal(30,6)")).over(w7).cast("double").alias("sum_gain"),
        F.sum(loss.cast("decimal(30,6)")).over(w7).cast("double").alias("sum_loss"),
        F.count(diff).over(w7).alias("n_diffs"),
    )
    rsi = F.when(F.col("sum_loss") == 0, F.lit(100.0)).otherwise(
        F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + F.col("sum_gain") / F.col("sum_loss"))
    )
    return (
        acc.filter(F.col("n_diffs") == 7)
        .select("o_custkey", "o_orderkey", "o_orderdate", "sum_gain", "sum_loss", rsi.alias("rsi"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


@query(
    "stochastic_oscillator",
    oracle="""
    WITH k AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER w AS rn,
             CASE WHEN MAX(o_totalprice) OVER w7 = MIN(o_totalprice) OVER w7
                  THEN 50.0
                  ELSE 100.0 * (o_totalprice - MIN(o_totalprice) OVER w7)
                       / (MAX(o_totalprice) OVER w7 - MIN(o_totalprice) OVER w7)
             END AS k_pct
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             w7 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey, o_orderdate, k_pct,
           (k_pct + LAG(k_pct, 1) OVER w + LAG(k_pct, 2) OVER w) / 3.0 AS d_pct
    FROM k
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    QUALIFY rn >= 7
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("A3", "W2", "W4"),
)
def stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] Stochastic oscillator %K/%D (7-period) per customer order
    series. %K is a range-normalized position — min/max over a row frame
    are exact picks, so the double expression is engine-identical; the
    flat-window branch pins 50. %D is the explicit 3-term lag average
    (fixed fold order, unlike an AVG over a frame of doubles, whose
    accumulation order is engine-internal). Emitted from the 7th row per
    key; earlier lags of %K are computed over the full series in both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w7 = w.rowsBetween(-6, 0)
    mx = F.max("o_totalprice").over(w7)
    mn = F.min("o_totalprice").over(w7)
    k_pct = F.when(mx == mn, F.lit(50.0)).otherwise(
        F.lit(100.0) * (F.col("o_totalprice") - mn) / (mx - mn)
    )
    k = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).alias("rn"),
        k_pct.alias("k_pct"),
    )
    d_pct = (F.col("k_pct") + F.lag("k_pct", 1).over(w) + F.lag("k_pct", 2).over(w)) / F.lit(3.0)
    return (
        k.select("o_custkey", "o_orderkey", "o_orderdate", "rn", "k_pct", d_pct.alias("d_pct"))
        .filter(F.col("rn") >= 7)
        .drop("rn")
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


@query(
    "obv_flow",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id,
             value - LAG(value) OVER w AS diff,
             (event_id % 10) + 1 AS vol
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), f AS (
      SELECT user_id, ts, event_id,
             CASE WHEN diff > 0 THEN vol
                  WHEN diff < 0 THEN -vol
                  ELSE 0 END AS flow
      FROM d
    )
    SELECT user_id, ts, event_id,
           CAST(SUM(flow) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM f
    ORDER BY user_id, ts, event_id
    """,
    tags=("A3", "W4"),
)
def obv_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] On-balance volume: the running signed-volume accumulator
    (volume flows toward the side of each price move). All-integer
    cumulative sum — exact under any partial-aggregation order — over
    one shuffle on the series key; the event-stream twin of the
    ``running_position`` ledger with a derived rather than given side."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    diff = F.col("value") - F.lag("value").over(w)
    vol = (F.col("event_id") % 10) + 1
    d = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(diff > 0, vol).when(diff < 0, -vol).otherwise(F.lit(0)).alias("flow"),
    )
    return (
        d.select(
            "user_id",
            "ts",
            "event_id",
            F.sum("flow").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint").alias("obv"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@query(
    "macd",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    m AS (
      SELECT event_id, event_type, ts, value,
             ROUND({2 / 13!r} * list_reduce(
                     list(value) OVER w50, (acc, x) -> acc * {_MACD_Q_FAST!r} + x)
                     / {_MACD_W_FAST!r}
                   - {2 / 27!r} * list_reduce(
                     list(value) OVER w50, (acc, x) -> acc * {_MACD_Q_SLOW!r} + x)
                     / {_MACD_W_SLOW!r},
                   6) AS macd_line
      FROM events_us
      WHERE value IS NOT NULL
      WINDOW w50 AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN {MACD_WINDOW - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, ts, macd_line,
           ROUND({0.2!r} * list_reduce(
                   list(macd_line) OVER w9, (acc, x) -> acc * {_MACD_Q_SIG!r} + x)
                   / {_MACD_W_SIG!r},
                 6) AS signal_line
    FROM m
    WINDOW w9 AS (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
    tags=("A3", "W2"),
)
def macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] MACD (12/26 EMA difference) + 9-EMA signal line per
    event_type series. Each EMA is the `ewma` query's truncated Horner
    fold (``acc·q + x`` over a 50-row frame) at the standard decays —
    non-dyadic q is fine HERE because no ``pow()`` is ever evaluated:
    both engines execute the identical left-fold multiply/add sequence
    on identical double literals, so every intermediate rounds
    identically. The signal line folds over the ROUNDED macd values
    (round-then-fold in both engines), keeping the second window's
    inputs bit-equal. Two window passes over one (event_type) sort —
    still a single series shuffle. Frame widths (50, 9) sit inside the
    bounded-frame contract documented on ``ewma`` — the collect_list
    arrays are safe only because k is fixed and ≤ ~100."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w50 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(MACD_WINDOW - 1), Window.currentRow)
    )
    arr = F.collect_list("value").over(w50)

    def horner(a, q: float):
        return F.aggregate(a, F.lit(0.0), lambda acc, x: acc * F.lit(q) + x)

    macd_line = F.round(
        F.lit(2 / 13) * horner(arr, _MACD_Q_FAST) / F.lit(_MACD_W_FAST)
        - F.lit(2 / 27) * horner(arr, _MACD_Q_SLOW) / F.lit(_MACD_W_SLOW),
        6,
    )
    m = e.select("event_id", "event_type", "ts", macd_line.alias("macd_line"))
    w9 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-8, Window.currentRow)
    )
    sig = F.round(
        F.lit(0.2) * horner(F.collect_list("macd_line").over(w9), _MACD_Q_SIG)
        / F.lit(_MACD_W_SIG),
        6,
    )
    return m.select(
        "event_id", "event_type", "ts", "macd_line", sig.alias("signal_line")
    ).orderBy("event_id")


@query(
    "bollinger_bands",
    oracle="""
    WITH cents AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ), acc AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             SUM(c) OVER w AS s1c,
             SUM(c * c) OVER w AS s2c,
             COUNT(*) OVER w AS n
      FROM cents
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey, o_orderdate, sma, sigma,
           sma - 2.0 * sigma AS lower_band,
           sma + 2.0 * sigma AS upper_band
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, n,
             CAST(s1c AS DOUBLE) / n / 100.0 AS sma,
             sqrt(GREATEST(CAST(n * s2c - s1c * s1c AS DOUBLE)
                           / (n * n) / 10000.0, 0.0)) AS sigma
      FROM acc
    ) WHERE n = 10
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    tags=("A3", "W4"),
)
def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A3] Bollinger bands (10-period SMA ± 2σ) per customer order
    series. Both moments accumulate in exact DECIMAL over the frame
    (order-independent), and mean/variance/bands are the identical
    double expressions in both engines — population σ from the
    computational formula with a GREATEST(·, 0) clamp against negative
    round-off. Emitted only for full windows."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-9, 0)
    )
    # integer-cents accumulation: both moments are EXACT BIGINTs, so the
    # variance numerator n*s2c - s1c^2 is exact and every double below
    # derives from identical integers via identical IEEE ops — outputs
    # are deliberately UNROUNDED: bit-identical inputs + identical op
    # sequence means exact cross-engine equality, whereas ROUND(x, 6) on
    # a value landing exactly on a .5 boundary exposes the one semantic
    # difference between Spark (exact-decimal HALF_UP) and DuckDB
    # (scaled-double round) — observed once at sf0.1 (sigma
    # 131867.4724065)
    c = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    cents = o.select("o_custkey", "o_orderkey", "o_orderdate", c.alias("c"))
    acc = cents.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum("c").over(w).alias("s1c"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("s2c"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    n = F.col("n")
    mean = F.col("s1c").cast("double") / n / F.lit(100.0)
    var = F.greatest(
        (n * F.col("s2c") - F.col("s1c") * F.col("s1c")).cast("double")
        / (n * n)
        / F.lit(10000.0),
        F.lit(0.0),
    )
    derived = acc.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "n",
        mean.alias("sma"),
        F.sqrt(var).alias("sigma"),
    )
    return (
        derived.filter(F.col("n") == 10)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "sma",
            "sigma",
            (F.col("sma") - 2.0 * F.col("sigma")).alias("lower_band"),
            (F.col("sma") + 2.0 * F.col("sigma")).alias("upper_band"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


def _ohlcv_partial(part: DataFrame) -> DataFrame:
    """Mergeable per-bar OHLCV partial state: min/max/count plus the
    open/close VALUES paired with their (ts, event_id) ORDER KEYS, and
    the volume kept in exact DECIMAL (not yet cast to double) — every
    field is associative under the merge in ``incremental_ohlcv``."""
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    return part.groupBy(
        "event_type", F.window("ts", "6 hours").start.alias("bar_start")
    ).agg(
        F.min(tiebreak).alias("open_key"),
        F.min_by("value", tiebreak).alias("open_val"),
        F.max(tiebreak).alias("close_key"),
        F.max_by("value", tiebreak).alias("close_val"),
        F.max("value").cast("double").alias("high"),
        F.min("value").cast("double").alias("low"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("vol_dec"),
    )


@query(
    "incremental_ohlcv",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ranked AS (
      SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS bar_start, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events_us
    )
    SELECT event_type, bar_start,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           CAST(MAX(value) AS DOUBLE) AS high,
           CAST(MIN(value) AS DOUBLE) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*) AS n_ticks,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS volume_proxy
    FROM ranked
    GROUP BY event_type, bar_start
    ORDER BY event_type, bar_start
    """,
    tags=("A2",),
)
def incremental_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A2/scale] Materialized-view maintenance for OHLCV bars: the
    events split into a "history" part and a "delta" part, each is
    aggregated to mergeable per-bar partial state
    (``_ohlcv_partial``), and the partials merge associatively — open =
    the open whose (ts, event_id) key is smaller, close symmetric, high/
    low/count by max/min/sum, volume by exact DECIMAL addition. The
    ORACLE is the direct full recompute (the ``ohlcv_bars`` SQL
    verbatim), so the driver's hash compare IS the proof that
    merge(partial(history), partial(delta)) == recompute(all) — bitwise,
    not approximately. The split is ``event_id % 5`` rather than a time
    cutoff deliberately: it is the adversarial case where EVERY bar
    straddles the split and every field must actually merge (a time
    split exercises only the boundary bar). Distinct from
    ``multi_resolution_bars``: that rollup merges DISJOINT sub-bars,
    where ``bar_start`` ordering alone picks open/close — merging
    overlapping partials of the SAME bar requires carrying the
    (ts, event_id) order keys in the state, which is the shape here.

    Scale: this is the nightly pattern that keeps a 100 TB bar store
    from being recomputed — partial states are O(bars), the merge
    shuffles only state rows on (event_type, bar_start), and the same
    associativity argument covers multi-way merges (N daily deltas) and
    Structured Streaming's state-store update (the streaming OHLCV in
    ``streaming/windows.py`` maintains exactly this state shape)."""
    e = load_table(spark, sf_dir, "events")
    hist = _ohlcv_partial(e.filter(F.col("event_id") % 5 != 4))
    delta = _ohlcv_partial(e.filter(F.col("event_id") % 5 == 4))
    return (
        hist.unionByName(delta)
        .groupBy("event_type", "bar_start")
        .agg(
            F.min_by("open_val", "open_key").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close_val", "close_key").alias("close"),
            F.sum("n_ticks").alias("n_ticks"),
            F.sum("vol_dec").cast("double").alias("volume_proxy"),
        )
        .select(
            "event_type", "bar_start", "open", "high", "low", "close",
            "n_ticks", "volume_proxy",
        )
    )


ROLL_N = 15  # rolling robust-stats frame (odd, so every rank is exact)


@query(
    "rolling_robust_stats",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    w AS (
      SELECT event_type, ts, event_id, value,
             list_sort(list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                         ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW)) AS win,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events_us
    )
    SELECT event_type, ts, event_id, value,
           win[4] AS roll_p25, win[8] AS roll_med, win[12] AS roll_p75
    FROM w WHERE rn >= {ROLL_N}
    ORDER BY event_type, ts, event_id
    """,
    tags=("W5", "A7"),
)
def rolling_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W5/A7] Rolling robust statistics — the outlier-resistant
    smoothing band (25th/50th/75th order statistics over the trailing
    ``ROLL_N``-tick frame per event type) that median-filter denoising and
    robust anomaly bands are built from; the rank-statistic complement
    of ``rolling_volatility``'s moment-based band. No engine quantile
    DEFINITION is involved on either side — both engines sort the frame
    and pick elements 4/8/12 of 15, so every output is an exact input
    double and hash-matches with no rounding anywhere. Emitted only for
    full frames (row 15 onward per key — partial-frame order statistics
    at a different n would be a different estimator).

    Frame mechanics: ``collect_list().over(rowsBetween(-14, 0))`` +
    ``array_sort`` — inside the documented bounded-frame contract
    (SCALE.md §Aggregation: safe for fixed k ≤ ~100, not a general
    unbounded pattern). One shuffle on event_type; the sort-window and
    the row_number share the same (ts, event_id) ordering so Spark
    computes both in a single Window pass."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_N - 1), 0)
    )
    wr = Window.partitionBy("event_type").orderBy("ts", "event_id")
    win = F.array_sort(F.collect_list(F.col("value")).over(w))
    return (
        e.select(
            "event_type",
            "ts",
            "event_id",
            "value",
            F.element_at(win, 4).alias("roll_p25"),
            F.element_at(win, 8).alias("roll_med"),
            F.element_at(win, 12).alias("roll_p75"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") >= ROLL_N)
        .drop("rn")
        .orderBy("event_type", "ts", "event_id")
    )


@query(
    "conversion_funnel",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    s1 AS (
      SELECT user_id, MIN(ts) AS t_view FROM events_us
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events_us e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t_view
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t_signup
      FROM events_us e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'signup' AND e.ts > s2.t_click
      GROUP BY e.user_id
    ), s4 AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events_us e JOIN s3 ON s3.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s3.t_signup
      GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_signup, s4.t_purchase,
           CAST(1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT
                  + (s4.user_id IS NOT NULL)::INT AS INT) AS steps_completed
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    LEFT JOIN s4 ON s4.user_id = s1.user_id
    ORDER BY s1.user_id
    """,
    tags=("A1", "J1"),
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/J1] Ordered-step conversion funnel — the product-analytics
    staple (Amplitude/Mixpanel "funnels"): for each user, the earliest
    ``view``, the earliest ``click`` strictly AFTER that view, the
    earliest ``signup`` after that click, the earliest ``purchase``
    after that signup — the temporal-order constraint is what makes a
    funnel a funnel (a user who purchased before ever viewing does not
    convert through the funnel), and what plain per-type mins get
    wrong. One row per funnel-entered user with per-step timestamps and
    ``steps_completed``; later steps are NULL-monotone by construction
    (each stage joins on the previous stage's survivors).

    Shape: four filtered key-partitioned MIN aggregations chained by
    user_id joins — each stage's input is type-filtered at the scan
    (pushdown) and its state is one row per surviving user, shrinking
    monotonically down the funnel. At 100 TB with the events lake
    bucketed on user_id every stage is zero-Exchange; the timestamps
    are carried exactly, so the whole report hash-matches with no
    rounding."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage(etype: str, prev: DataFrame, prev_ts: str, out: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev.select("user_id", prev_ts), "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = stage("click", s1, "t_view", "t_click")
    s3 = stage("signup", s2, "t_click", "t_signup")
    s4 = stage("purchase", s3, "t_signup", "t_purchase")
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .join(s4, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_signup",
            "t_purchase",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_signup").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).cast("int").alias("steps_completed"),
        )
        .orderBy("user_id")
    )


@query(
    "event_transitions",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events_us
    ), counts AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY prev_type) AS share_from_prev
    FROM counts
    ORDER BY prev_type, event_type
    """,
    tags=("W2", "A1"),
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W2/A1] User-journey transition matrix — the first-order Markov
    view of the event stream (what follows what, per user, in event-time
    order): LAG over each user's (ts, event_id)-ordered stream, then a
    (prev, next) count matrix with row-normalized shares. This is the
    exploratory complement of ``conversion_funnel``: the funnel checks
    one prescribed path, the transition matrix shows every path users
    actually take (and is the input to Markov-chain attribution models).
    Counts are exact integers; each share is one double division of two
    exact integers, identical in both engines.

    Shape: one shuffle on user_id for the LAG window, one (prev, next)
    aggregation over at most |types|² groups, and a window sum over the
    tiny matrix — at 100 TB the per-user window dominates and inherits
    the user_id bucketing; the matrix itself is KB-sized regardless of
    input scale."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    wp = Window.partitionBy("prev_type")
    return (
        counts.select(
            "prev_type",
            "event_type",
            "n_transitions",
            (
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(wp)
            ).alias("share_from_prev"),
        )
        .orderBy("prev_type", "event_type")
    )


@query(
    "rfm_segmentation",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    p AS (
      SELECT user_id, ts, value FROM events_us WHERE event_type = 'purchase'
    ), g AS (SELECT MAX(ts) AS gmax FROM p),
    u AS (
      SELECT user_id,
             CAST(datediff('day', CAST(MAX(ts) AS DATE), CAST(g.gmax AS DATE))
                  AS INT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS monetary
      FROM p, g GROUP BY user_id, g.gmax
    ), s AS (
      SELECT *,
             CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS INT) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS INT) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary ASC, user_id) AS INT) AS m_score
      FROM u
    )
    SELECT user_id, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_reactivated'
                ELSE 'core' END AS segment
    FROM s ORDER BY user_id
    """,
    tags=("W3", "A1"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W3/A1] RFM customer segmentation — the warehouse-classic
    recency/frequency/monetary quintile scoring over the purchase
    stream: days since last purchase (vs the corpus's latest purchase,
    carried as a broadcast scalar), purchase count, decimal-exact spend;
    each metric NTILE(5)-scored under a TOTAL order (metric + user_id
    tie-break, so bucket boundaries are deterministic and
    engine-identical), then a rule-based segment label. Counts and
    recency are exact integers, monetary is the decimal-accumulation
    pattern, and NTILE follows the same standard definition in both
    engines under a total order — no rounding anywhere.

    Scale note: exact NTILE is a global sort of the per-user table
    (small — one row per user); at 100 TB with billions of users the
    quintile boundaries come from ``approx_percentiles`` instead and
    scoring becomes a broadcast range lookup — the sketch path this
    catalog already carries; this query is the exact-oracle form."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    g = p.agg(F.max("ts").alias("gmax"))
    u = (
        p.crossJoin(F.broadcast(g))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.first("gmax").cast("date"), F.max("ts").cast("date")
            ).cast("int").alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    s = u.select(
        "*",
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency_days"), "user_id"))
        .cast("int")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("frequency"), "user_id"))
        .cast("int")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("monetary"), "user_id"))
        .cast("int")
        .alias("m_score"),
    )
    return s.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            F.lit("champion"),
        )
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") >= 4),
            F.lit("at_risk_loyal"),
        )
        .when(
            (F.col("r_score") >= 4) & (F.col("f_score") <= 2),
            F.lit("new_or_reactivated"),
        )
        .otherwise(F.lit("core"))
        .alias("segment"),
    ).orderBy("user_id")


def streaks_from_days(days: DataFrame) -> DataFrame:
    """Gaps-and-islands kernel over a (user_id, day DATE) frame: the
    ``day − row_number`` anchor is constant exactly along a consecutive
    run, so each (user, anchor) group is one streak. Returns one row per
    user: n_active_days / n_streaks / max_streak. Shared by the catalog
    query and the Hypothesis property test (which checks it against a
    brute-force run-length scan on arbitrary generated day sets)."""
    w = Window.partitionBy("user_id").orderBy("day")
    g = days.withColumn("anchor", F.date_sub(F.col("day"), F.row_number().over(w)))
    streaks = g.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("max_streak"),
    )


def max_concurrency_from_intervals(iv: DataFrame) -> DataFrame:
    """Sweep-line kernel over a (day, t0, t1) interval frame: +1/−1
    boundaries, running sum ordered (t, delta DESC) — a start at the
    exact instant of another span's end counts as concurrent — and the
    per-day MAX of the concurrency curve. Ties within a (t, delta) group
    permute only which row carries which intermediate value; the running
    sum passes the same multiset, so the MAX is order-invariant. Shared
    by the catalog query and the Hypothesis property test (brute-force
    containment count at every start instant)."""
    b = iv.select("day", F.col("t0").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select("day", F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        b.select("day", F.sum("delta").over(w).alias("conc"))
        .groupBy("day")
        .agg(F.max("conc").cast("int").alias("max_concurrent"))
    )


@query(
    "activity_streaks",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events_us),
    g AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) AS anchor
      FROM days
    ), streaks AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
      FROM g GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak
    FROM streaks GROUP BY user_id ORDER BY user_id
    """,
    tags=("W2", "A1"),
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W2/A1] Consecutive-day activity streaks per user — the classic
    gaps-and-islands pattern (the one SQL shape every engagement/retention
    team runs that no built-in aggregate expresses): distinct active days,
    ROW_NUMBER within user, and the ``day − row_number`` anchor that is
    constant exactly along a consecutive run — each anchor group is one
    streak. Reports per user: total active days, number of streaks, and
    the longest streak. All integers, exact in both engines; date
    arithmetic (DATE − INT days) is identical.

    Shape: ONE shuffle on user_id serves the distinct, the window, and
    both aggregations (Catalyst keeps the partitioning through the chain
    — same-key operations reuse the Exchange). At 100 TB with the events
    lake bucketed on user_id the whole query is zero-Exchange; the state
    per user is its day list, thousands at most."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return streaks_from_days(days).orderBy("user_id")


@query(
    "running_distinct_users",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events_us),
    firsts AS (
      SELECT event_type, MIN(CAST(ts AS DATE)) AS first_day
      FROM events_us GROUP BY event_type, user_id
    ), newc AS (
      SELECT event_type, first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY event_type, first_day
    )
    SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(SUM(COALESCE(n.n_new, 0))
                  OVER (PARTITION BY d.event_type ORDER BY d.day) AS BIGINT)
             AS cum_users
    FROM daily d
    LEFT JOIN newc n ON n.event_type = d.event_type AND n.day = d.day
    ORDER BY d.event_type, d.day
    """,
    tags=("A4", "W4"),
)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/W4] Cumulative distinct users per event type by day — the
    "audience growth" curve. Spark has NO windowed COUNT(DISTINCT) (and a
    ``collect_set().over()`` formulation would carry the full user set
    per row — O(users) state per output row, a scale-killer), so the
    engine re-expresses the semantics exactly: a user contributes to the
    running distinct count from their FIRST active day onward, so
    cumulative-distinct(d) = Σ over days ≤ d of |users whose first day is
    that day|. One aggregate for first days, one tiny per-(type, day)
    count, and a window sum over ~|days| rows per type. The oracle keeps
    the same formulation (it IS the semantics — DuckDB's windowed
    COUNT(DISTINCT) would be an alternative denominator but this form is
    engine-neutral). All integers, exact.

    At 100 TB: the firsts aggregate is the only fact-sized shuffle
    (user_id-bucketing co-locates it); everything downstream is
    |types|×|days| rows — KB-scale regardless of input."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    daily = e.select("event_type", day).distinct()
    firsts = e.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    newc = firsts.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    joined = daily.join(newc, ["event_type", "day"], "left")
    n_new = F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint")
    return (
        joined.select(
            "event_type",
            F.col("day").cast("timestamp").alias("day"),
            n_new.alias("n_new"),
            F.sum(n_new).over(w).cast("bigint").alias("cum_users"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "interval_concurrency",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS t0, MAX(ts) AS t1
      FROM events_us GROUP BY user_id, day
    ), b AS (
      SELECT day, t0 AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT day, t1 AS t, -1 AS delta FROM iv
    ), c AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM b
    )
    SELECT CAST(day AS TIMESTAMP) AS day, CAST(MAX(conc) AS INT) AS max_concurrent
    FROM c GROUP BY day ORDER BY day
    """,
    tags=("W4", "A1"),
)
def interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W4/A1] Peak concurrent user sessions per day by sweep line — the
    interval-overlap maximum (max sessions online at once) computed
    without any interval self-join: each user-day span [first event, last
    event] emits a +1 boundary at its start and a −1 at its end; sorting
    boundaries in time and running-summing the deltas traces the exact
    concurrency curve, whose per-day MAX is the answer. The self-join
    formulation is O(n²) per day; the sweep is O(n log n) and one window
    pass.

    Determinism: boundaries tie-break ``delta DESC`` so a start at the
    exact instant of another span's end counts as concurrent (touching =
    overlapping), identically in both engines; ties WITHIN a (t, delta)
    group permute only which row carries which intermediate value — the
    running sum passes the same multiset of values, so the day MAX is
    invariant. Integer arithmetic throughout.

    At 100 TB: one shuffle to (user, day) spans, one to day-partitioned
    boundary streams (2 rows per span); per-day sort is the only
    super-linear step and days bound its width. A day so hot its
    boundaries overflow one partition would salt into sub-ranges and
    merge running offsets — noted, not needed at any tested scale."""
    e = load_table(spark, sf_dir, "events")
    iv = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    return (
        max_concurrency_from_intervals(iv)
        .select(F.col("day").cast("timestamp").alias("day"), "max_concurrent")
        .orderBy("day")
    )


@query(
    "autocorrelation",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    lagged AS (
      SELECT event_type, value AS x,
             LAG(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y1,
             LAG(value, 2) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y2,
             LAG(value, 3) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y3
      FROM events_us
    ), pairs AS (
      SELECT event_type, 1 AS lag, x, y1 AS y FROM lagged WHERE y1 IS NOT NULL
      UNION ALL
      SELECT event_type, 2 AS lag, x, y2 AS y FROM lagged WHERE y2 IS NOT NULL
      UNION ALL
      SELECT event_type, 3 AS lag, x, y3 AS y FROM lagged WHERE y3 IS NOT NULL
    ), m AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy
      FROM pairs GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
           CASE WHEN (CAST(n_pairs AS DOUBLE) * sxx - sx * sx) > 0
                 AND (CAST(n_pairs AS DOUBLE) * syy - sy * sy) > 0
                THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                  / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                     * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy))
           END AS acf
    FROM m ORDER BY event_type, lag
    """,
    tags=("A7", "W2"),
)
def autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W2] Autocorrelation function (lags 1–3) of each event type's
    value series — the stationarity/seasonality diagnostic every
    forecasting pipeline runs before model choice. Pearson r between the
    series and its k-lagged self over the (ts, event_id) total order,
    computed from exact moment sums: Σx, Σy, Σx², Σy², Σxy each
    accumulate per-row-rounded DECIMAL (the per-row products are
    identical IEEE doubles in both engines, so the rounded terms are
    identical too), and the final r is one fixed sequence of double ops
    over those exactly-agreed moments — bit-equal without any output
    rounding.

    Spark side: ONE window pass produces all three lag columns (same
    window spec ⇒ one sort), then a ``stack`` generator unpivots them to
    (lag, x, y) pairs — three ACFs for one shuffle on event_type, versus
    the naive three self-joins. At 100 TB the per-type window inherits a
    symbol-bucketed lake's partitioning; moments are map-side-combined."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = e.select(
        "event_type",
        F.col("value").alias("x"),
        F.lag("value", 1).over(w).alias("y1"),
        F.lag("value", 2).over(w).alias("y2"),
        F.lag("value", 3).over(w).alias("y3"),
    )
    pairs = lagged.select(
        "event_type",
        "x",
        F.expr("stack(3, 1, y1, 2, y2, 3, y3)").alias("lag", "y"),
    ).filter(F.col("y").isNotNull())
    dec = lambda c: F.sum(c.cast(DEC)).cast("double")  # noqa: E731
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    n_d = F.col("n_pairs").cast("double")
    # zero-variance guard: a constant series (or constant lagged slice)
    # has an undefined ACF — NULL, decided on the same derived doubles in
    # both engines (ANSI Spark would raise DIVIDE_BY_ZERO on the 0/0; a
    # regenerated fixture must degrade to NULL, not a query error)
    varx = n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n_d * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.when(
                (varx > 0) & (vary > 0),
                (n_d * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.sqrt(varx) * F.sqrt(vary)),
            ).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@query(
    "cusum_changepoint",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    stats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS mean,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events_us GROUP BY event_type
    ), c AS (
      SELECT e.event_type, e.ts, e.event_id, s.n_events,
             SUM(CAST(e.value - s.mean AS DECIMAL(30,6)))
               OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM events_us e JOIN stats s ON s.event_type = e.event_type
    ), r AS (
      SELECT event_type, ts, n_events, ABS(cum) AS abs_cum,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(cum) DESC, ts DESC, event_id DESC)
               AS rn
      FROM c
    )
    SELECT event_type, ts AS change_ts, n_events,
           CAST(abs_cum AS DOUBLE) AS max_abs_cusum
    FROM r WHERE rn = 1 ORDER BY event_type
    """,
    tags=("W4", "A7"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W4/A7] CUSUM change-point locator — for each event type, the
    timestamp where the cumulative sum of deviations from the series
    mean peaks in magnitude: the classic distribution-shift detector
    (|CUSUM| max marks where the level most decisively changed), the
    monitoring primitive behind data-drift alerts on ingest volume.

    Determinism chain: the mean is an exact-decimal average (identical
    double in both engines); each deviation is one double subtraction
    (identical); deviations round per-row into DECIMAL and the running
    sum is exact decimal — order-fixed by (ts, event_id), no float
    accumulation drift possible. The argmax row is picked by
    ROW_NUMBER with a total-order tiebreak (latest among exact-decimal
    ties), never by LIMIT-after-sort on a double.

    At 100 TB: one broadcast of the per-type stats row, one
    (symbol-bucketable) window pass; the CUSUM itself is a sequential
    fold, but per type — the parallel unit of the whole indicator
    family. The full curve never materializes to the driver; only the
    argmax row per type survives."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        davg("value").alias("mean"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = j.select(
        "event_type",
        "ts",
        "event_id",
        "n_events",
        F.sum((F.col("value") - F.col("mean")).cast(DEC)).over(wc).alias("cum"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cum")).desc(), F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        c.select(
            "event_type",
            "ts",
            "n_events",
            F.abs(F.col("cum")).alias("abs_cum"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("ts").alias("change_ts"),
            "n_events",
            F.col("abs_cum").cast("double").alias("max_abs_cusum"),
        )
        .orderBy("event_type")
    )


@query(
    "seasonal_profile",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    cells AS (
      SELECT event_type,
             CAST(isodow(ts) - 1 AS INT) AS dow,
             CAST(hour(ts) AS INT) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS avg_value
      FROM events_us GROUP BY event_type, dow, hour
    )
    SELECT event_type, dow, hour, n_events, avg_value,
           CAST(n_events AS DOUBLE)
             / SUM(n_events) OVER (PARTITION BY event_type) AS volume_share
    FROM cells ORDER BY event_type, dow, hour
    """,
    tags=("A1", "W4"),
)
def seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1/W4] Calendar seasonality profile — the (weekday × hour)
    activity matrix per event type: event count, exact-decimal average
    value, and each cell's share of the type's total volume. The
    capacity-planning / anomaly-baseline view (what a "normal Tuesday
    3 PM" looks like) that the harmonic time-bucket windows (T7/T8)
    deliberately don't express — those bucket by elapsed time, this
    folds onto the repeating calendar grid.

    Cross-engine date semantics pinned explicitly: Spark ``weekday``
    (0 = Monday) equals DuckDB ``isodow − 1`` — the only agreed-on
    weekday numbering without a session-dependent week start. Counts
    are exact; the share is one double division of exact ints; the
    average is the standard exact-decimal-sum-over-count.

    At 100 TB: one shuffle onto at most |types|×168 cells (map-side
    combine collapses the fact volume), then a window over the tiny
    cell frame — the scan is the whole cost, as it should be."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.weekday("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        davg("value").alias("avg_value"),
    )
    w = Window.partitionBy("event_type")
    return (
        cells.select(
            "event_type",
            "dow",
            "hour",
            "n_events",
            "avg_value",
            (
                F.col("n_events").cast("double") / F.sum("n_events").over(w)
            ).alias("volume_share"),
        )
        .orderBy("event_type", "dow", "hour")
    )


@query(
    "volume_zscore_anomaly",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    buckets AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events_us GROUP BY event_type, bucket_ts
    ), stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(n_events) AS DOUBLE) AS sx,
             CAST(SUM(n_events * n_events) AS DOUBLE) AS sxx
      FROM buckets GROUP BY event_type
    ), scored AS (
      SELECT b.event_type, b.bucket_ts, b.n_events,
             (CAST(b.n_events AS DOUBLE) - s.sx / s.n_buckets)
               / sqrt((s.sxx - s.sx * s.sx / s.n_buckets) / (s.n_buckets - 1))
               AS zscore
      FROM buckets b JOIN stats s ON s.event_type = b.event_type
      WHERE s.n_buckets > 1
        AND s.sxx - s.sx * s.sx / s.n_buckets > 0
    )
    SELECT event_type, bucket_ts, n_events, zscore
    FROM scored WHERE zscore > 2.5 OR zscore < -2.5
    ORDER BY event_type, bucket_ts
    """,
    tags=("A7", "P8"),
)
def volume_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/P8] Ingest-volume anomaly detection — hourly event counts per
    type flagged where the count sits more than 2.5 sample standard
    deviations from the type's mean: the monitoring rule behind "why did
    clicks spike at 14:00", complementing ``psi_value_drift`` (value
    distribution shift) and ``cusum_changepoint`` (sustained level
    shift) with the point-anomaly view.

    Every input to the z-score is an exact integer (bucket counts and
    their sums/squares are BIGINTs — no decimal rounding is even
    needed), so mean, variance and z are the same fixed double
    expression in both engines and the 2.5σ threshold can never
    ULP-flip a boundary bucket differently. Sample (n−1) variance;
    single-bucket types are excluded (no variance defined).

    At 100 TB: the hourly aggregate collapses the fact table map-side;
    stats are |types| rows broadcast back over |types|×|hours| buckets —
    cost is one scan plus noise, and the same two-level shape runs
    incrementally by maintaining the per-(type, hour) counts."""
    e = load_table(spark, sf_dir, "events")
    buckets = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    stats = buckets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("n_events").cast("double").alias("sx"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("double").alias("sxx"),
    )
    z = (
        F.col("n_events").cast("double") - F.col("sx") / F.col("n_buckets")
    ) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_buckets"))
        / (F.col("n_buckets") - 1)
    )
    # zero-variance guard: a type with identical counts in every bucket
    # has no defined z — filtered on the same derived-double condition in
    # both engines (ANSI Spark would raise on the division)
    return (
        buckets.join(F.broadcast(stats), "event_type")
        .filter(
            (F.col("n_buckets") > 1)
            & (
                F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_buckets")
                > 0
            )
        )
        .select("event_type", "bucket_ts", "n_events", z.alias("zscore"))
        .filter((F.col("zscore") > 2.5) | (F.col("zscore") < -2.5))
        .orderBy("event_type", "bucket_ts")
    )


@query(
    "rolling_pair_correlation",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    h AS (
      SELECT date_trunc('hour', ts) AS bucket_ts,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
      FROM events_us GROUP BY bucket_ts
    ), w AS (
      SELECT bucket_ts, x, y,
             CAST(SUM(x) OVER win AS BIGINT) AS sx,
             CAST(SUM(y) OVER win AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER win AS BIGINT) AS sxx,
             CAST(SUM(y * y) OVER win AS BIGINT) AS syy,
             CAST(SUM(x * y) OVER win AS BIGINT) AS sxy,
             CAST(COUNT(*) OVER win AS BIGINT) AS n,
             ROW_NUMBER() OVER (ORDER BY bucket_ts) AS rn
      FROM h
      WINDOW win AS (ORDER BY bucket_ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT bucket_ts, x, y,
           CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                 AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
                THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           END AS corr24
    FROM w WHERE rn >= 24 ORDER BY bucket_ts
    """,
    tags=("W2", "A7"),
)
def rolling_pair_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W2/A7] Rolling 24-hour correlation between two aligned series —
    hourly click volume vs hourly purchase volume: the lead-indicator
    diagnostic ("do clicks this day co-move with purchases") that plain
    per-series windows can't express because it needs ALIGNMENT first.
    The alignment is one conditional pivot (two FILTERed counts per hour
    bucket — absent hours for one type contribute 0 in that bucket;
    hours with no events at all are absent rows, so the frame is over
    OBSERVED hours, stated contract), then Pearson r over a 24-row
    trailing frame computed from INTEGER moment sums — counts and their
    window sums are exact BIGINTs, so the final r is one identical
    double expression in both engines with no rounding step at all.
    Partial leading frames (rn < 24) are dropped, as in
    ``rolling_robust_stats``.

    At 100 TB: the hourly pivot collapses the fact table map-side to
    |hours| rows; the window runs over that tiny frame. Generalizing to
    all type pairs is the same query over a pivot of |types| columns."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).cast("bigint").alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("bigint").alias("y"),
    )
    win = Window.orderBy("bucket_ts").rowsBetween(-23, 0)
    wr = Window.orderBy("bucket_ts")
    w = h.select(
        "bucket_ts",
        "x",
        "y",
        F.sum("x").over(win).cast("bigint").alias("sx"),
        F.sum("y").over(win).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).cast("bigint").alias("sxy"),
        F.count(F.lit(1)).over(win).cast("bigint").alias("n"),
        F.row_number().over(wr).alias("rn"),
    )
    n_d = F.col("n").cast("double")
    # zero-variance guard: 24 identical counts in a window (e.g. a type
    # absent for a whole day on a regenerated fixture) has no defined r —
    # NULL, same derived-double condition in both engines, never an ANSI
    # DIVIDE_BY_ZERO
    varx = n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary = n_d * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    corr = F.when(
        (varx > 0) & (vary > 0),
        (n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / (F.sqrt(varx) * F.sqrt(vary)),
    )
    return (
        w.filter(F.col("rn") >= 24)
        .select("bucket_ts", "x", "y", corr.alias("corr24"))
        .orderBy("bucket_ts")
    )


@query(
    "repeat_purchase_intervals",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    p AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events_us WHERE event_type = 'purchase'
    ), gaps AS (
      SELECT user_id,
             CAST(floor(CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE)
                        / 3600000000.0) AS INT) AS gap_hours
      FROM p WHERE prev_ts IS NOT NULL
    )
    SELECT gap_hours,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM gaps GROUP BY gap_hours ORDER BY gap_hours
    """,
    tags=("W2", "A1"),
)
def repeat_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[W2/A1] Inter-purchase time distribution — the histogram of hours
    between a user's consecutive purchases: the repeat-behavior view
    behind replenishment timing and churn-risk windows ("most
    repeaters come back within N hours"), complementing
    ``retention_cohorts`` (calendar-grid retention) with the
    event-relative view. LAG over the per-user purchase stream, gap
    floored to whole hours on exact integer microsecond arithmetic
    (`epoch` differences — no calendar or float ambiguity; floor of
    the exact-integer-over-constant division agrees across engines),
    then a two-measure histogram (interval count + distinct users per
    bucket).

    At 100 TB: the type filter pushes into the scan; one user_id
    shuffle serves the LAG; the histogram is a few-hundred-row
    aggregate. The distinct-user measure shuffles (gap_hours, user)
    once — bounded by purchases, not events."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
    )
    gap = F.floor(
        (
            F.unix_micros("ts") - F.unix_micros("prev_ts")
        ).cast("double")
        / 3600000000.0
    ).cast("int")
    return (
        p.select("user_id", gap.alias("gap_hours"))
        .groupBy("gap_hours")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.count_distinct(F.col("user_id")).cast("bigint").alias("n_users"),
        )
        .orderBy("gap_hours")
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    s1 AS (
      SELECT user_id, MIN(ts) AS t_view FROM events_us
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events_us e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t_signup
      FROM events_us e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'signup' AND e.ts > s2.t_click GROUP BY e.user_id
    ), s4 AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events_us e JOIN s3 ON s3.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s3.t_signup GROUP BY e.user_id
    ), deltas AS (
      SELECT '1_view_to_click' AS step,
             CAST(epoch_us(s2.t_click) - epoch_us(s1.t_view) AS BIGINT) AS us
      FROM s1 JOIN s2 ON s2.user_id = s1.user_id
      UNION ALL
      SELECT '2_click_to_signup',
             CAST(epoch_us(s3.t_signup) - epoch_us(s2.t_click) AS BIGINT)
      FROM s2 JOIN s3 ON s3.user_id = s2.user_id
      UNION ALL
      SELECT '3_signup_to_purchase',
             CAST(epoch_us(s4.t_purchase) - epoch_us(s3.t_signup) AS BIGINT)
      FROM s3 JOIN s4 ON s4.user_id = s3.user_id
    )
    SELECT step, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(quantile_cont(us, 0.5) / 60000000.0, 4) AS p50_minutes,
           ROUND(quantile_cont(us, 0.9) / 60000000.0, 4) AS p90_minutes
    FROM deltas GROUP BY step ORDER BY step
    """,
    tags=("A7", "A1"),
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/A1] Funnel velocity — p50/p90 time BETWEEN funnel steps for
    users who completed each transition: the "where do users stall"
    view that ``conversion_funnel`` (who converts) doesn't answer.
    Same ordered-step stage chain as the funnel (strictly-after MINs),
    then per-step deltas as EXACT integer microseconds and exact
    interpolated percentiles converted to minutes (one double division
    of the interpolated value; ROUND-4 per the ``percentiles``
    precedent — interpolation of exact ints is deterministic far below
    that grain).

    At 100 TB: inherits the funnel's monotone-shrinking stage shape
    (each stage one key-bounded aggregate); the percentile runs over
    three step groups of converted users — the tiny end of the funnel
    by construction."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage(etype: str, prev: DataFrame, prev_ts: str, out: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev.select("user_id", prev_ts), "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = stage("click", s1, "t_view", "t_click")
    s3 = stage("signup", s2, "t_click", "t_signup")
    s4 = stage("purchase", s3, "t_signup", "t_purchase")

    def delta(label: str, a: DataFrame, ta: str, b: DataFrame, tb: str) -> DataFrame:
        return (
            a.join(b, "user_id")
            .select(
                F.lit(label).alias("step"),
                (F.unix_micros(tb) - F.unix_micros(ta)).cast("bigint").alias("us"),
            )
        )

    deltas = (
        delta("1_view_to_click", s1, "t_view", s2, "t_click")
        .unionAll(delta("2_click_to_signup", s2, "t_click", s3, "t_signup"))
        .unionAll(delta("3_signup_to_purchase", s3, "t_signup", s4, "t_purchase"))
    )
    return (
        deltas.groupBy("step")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.expr("percentile(us, 0.5)") / 60000000.0, 4).alias("p50_minutes"),
            F.round(F.expr("percentile(us, 0.9)") / 60000000.0, 4).alias("p90_minutes"),
        )
        .orderBy("step")
    )


@query(
    "asof_fold_series",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
    SELECT l.event_id, l.user_id, l.ts, l.value AS purchase_value,
           r.ts AS last_click_ts, r.value AS last_click_value
    FROM (SELECT * FROM events_us WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT user_id, ts, max_by(value, event_id) AS value
                    FROM events_us WHERE event_type = 'click'
                    GROUP BY user_id, ts) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    """,
    tags=("T10", "J5"),
)
def asof_fold_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T10 batch twin of the streaming as-of join] The streaming
    ``asof_enrich_stream`` state machine's pure fold
    (``streaming/stateful.py: asof_fold`` — the EXACT code the stateful
    operator executes per micro-batch) run over each user's full tagged
    purchase/click series via ``applyInPandas``, so the driver's DuckDB
    ASOF-JOIN hash-compare verifies the streaming kernel itself — same
    feed, same output columns, same oracle as the batch ``asof_join``
    recipe, which makes the three-way contract explicit: window-carry
    recipe ≡ streaming fold ≡ native ASOF. Tie semantics ride the fold's
    input sort ``(ts, side, event_id)``: right before left at equal ts
    (inclusive), equal-ts clicks resolve to the max event_id — identical
    to ``asof_join``'s struct-carry rules, NULL click values carried
    intact. Scale: one shuffle on the series key; the streaming variant
    holds one carried bar + a watermark-horizon buffer per key."""
    import pandas as pd

    from ..streaming.stateful import asof_fold

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "side", "event_id"])
        uid = int(pdf["user_id"].iloc[0])
        ripe = [
            (ts, int(side), int(eid), None if pd.isna(v) else float(v))
            for ts, side, eid, v in zip(
                pdf["ts"], pdf["side"], pdf["event_id"], pdf["value"]
            )
        ]
        _cts, _cv, rows = asof_fold(None, None, ripe)
        return pd.DataFrame(
            {
                "event_id": pd.array([r[1] for r in rows], dtype="int64"),
                "user_id": pd.array([uid] * len(rows), dtype="int64"),
                "ts": pd.to_datetime([r[0] for r in rows]),
                "purchase_value": pd.array([r[2] for r in rows], dtype="float64"),
                "last_click_ts": pd.to_datetime([r[3] for r in rows]),
                "last_click_value": pd.array([r[4] for r in rows], dtype="float64"),
            }
        )

    e = load_table(spark, sf_dir, "events")
    tagged = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("side")
    ).unionByName(
        e.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value", F.lit(0).alias("side")
        )
    )
    return (
        tagged.groupBy("user_id")
        .applyInPandas(
            fold,
            "event_id long, user_id long, ts timestamp, purchase_value double, "
            "last_click_ts timestamp, last_click_value double",
        )
        .orderBy("event_id")
    )


@query(
    "historical_var",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
      FROM events_us WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    rets AS (
      SELECT event_type,
             (v - prev) / prev AS r
      FROM (SELECT event_type, v,
                   LAG(v) OVER (PARTITION BY event_type ORDER BY day) AS prev
            FROM daily)
      WHERE prev IS NOT NULL AND prev <> 0
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_returns,
             list_sort(list(r)) AS sr
      FROM rets GROUP BY event_type
    )
    SELECT event_type, n_returns,
           sr[CAST((n_returns + 19) // 20 AS INT)] AS var95,
           list_reduce(sr[1:CAST((n_returns + 19) // 20 AS INT)],
                       (acc, x) -> acc + x)
             / ((n_returns + 19) // 20) AS cvar95
    FROM agg ORDER BY event_type
    """,
    tags=("A7", "A3", "W3"),
)
def historical_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/A3] Historical-simulation Value-at-Risk per instrument (event
    type as the instrument proxy): daily value totals → day-over-day
    simple returns → 95% VaR and CVaR (expected shortfall). The risk
    numbers are RANK-based, not threshold-based, for cross-engine
    exactness: k = ceil(0.05·n) as exact integer arithmetic
    ((n+19)//20), VaR95 = the k-th smallest return (an order statistic —
    no interpolation, no boundary compare), CVaR95 = the mean of the k
    smallest, summed LEFT-TO-RIGHT over the value-sorted list in both
    engines (sort_array + F.aggregate here, list_sort + list_reduce in
    the oracle) so the IEEE sequence is identical — the fold-twin
    summation discipline. Inputs are exact decimal daily sums, and the
    return expression is the same (v−prev)/prev both sides, so every
    double is bit-identical and nothing is rounded. A
    threshold-membership CVaR (mean of returns ≤ VaR) would flip on a
    1-ULP threshold difference; the k-smallest definition cannot. Scale:
    one shuffle to daily totals, one to the per-instrument window; the
    per-group return list is ~one row per day — thousands of elements at
    any corpus size, safely collectible."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(dsum(F.col("value")).alias("v"))
    w = Window.partitionBy("event_type").orderBy("day")
    rets = (
        daily.withColumn("prev", F.lag("v").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != 0))
        .select(
            "event_type", ((F.col("v") - F.col("prev")) / F.col("prev")).alias("r")
        )
    )
    n = F.count(F.lit(1)).cast("bigint")
    agg = rets.groupBy("event_type").agg(
        n.alias("n_returns"),
        F.array_sort(F.collect_list("r")).alias("sr"),
    )
    k = F.expr("(n_returns + 19) div 20")  # ceil(0.05 n), exact integer division
    # Fold seeded with the FIRST element (not 0.0) to mirror DuckDB's
    # seedless list_reduce exactly: a 0.0 seed would turn a -0.0 first
    # return into +0.0 on this side only — a hash-compare hazard
    # (ADVICE r9). k >= 1 always, so element_at(sr, 1) exists whenever
    # the group exists.
    ksum = F.aggregate(
        F.slice("sr", 2, (k - 1).cast("int")),
        F.element_at("sr", 1),
        lambda acc, x: acc + x,
    )
    return agg.select(
        "event_type",
        "n_returns",
        F.element_at("sr", k.cast("int")).alias("var95"),
        (ksum / k).alias("cvar95"),
    ).orderBy("event_type")


#: Backtest geometry for ``var_breach_backtest``: trailing window of
#: daily returns feeding each day's VaR estimate, and the order
#: statistic used as the threshold. k = ceil(0.05·W) exact integer
#: arithmetic, mirroring ``historical_var``. With an exchangeable
#: return stream, P(next return < k-th smallest of the trailing W) =
#: k/(W+1) — the exact finite-sample coverage the z-test below is
#: scored against (not 0.05: the order-statistic estimator's true
#: coverage at small W is the rank probability, and using it keeps the
#: expected-breach arithmetic exact instead of asymptotic).
_VAR_BT_WINDOW = 10
_VAR_BT_K = (_VAR_BT_WINDOW + 19) // 20  # ceil(0.05 W)
_VAR_BT_P = repr(_VAR_BT_K / (_VAR_BT_WINDOW + 1))  # exact double literal


@query(
    "var_breach_backtest",
    oracle=f"""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS v
      FROM events_us WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    rets AS (
      SELECT event_type, day, (v - prev) / prev AS r
      FROM (SELECT event_type, day, v,
                   LAG(v) OVER (PARTITION BY event_type ORDER BY day) AS prev
            FROM daily)
      WHERE prev IS NOT NULL AND prev <> 0
    ),
    trailed AS (
      SELECT event_type, day, r,
             list(r) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN {_VAR_BT_WINDOW} PRECEDING
                                    AND 1 PRECEDING) AS trail
      FROM rets
    ),
    tested AS (
      SELECT event_type, r,
             list_sort(trail)[{_VAR_BT_K}] AS var_t
      FROM trailed WHERE len(trail) = {_VAR_BT_WINDOW}
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_tested,
             CAST(COALESCE(SUM(CASE WHEN r < var_t THEN 1 END), 0) AS BIGINT)
               AS n_breaches
      FROM tested GROUP BY event_type
    )
    SELECT event_type, n_tested, n_breaches,
           CAST(n_breaches AS DOUBLE) / n_tested AS breach_rate,
           (n_breaches - n_tested * {_VAR_BT_P})
             / sqrt(n_tested * {_VAR_BT_P} * (1.0 - {_VAR_BT_P})) AS coverage_z
    FROM agg WHERE n_tested > 0 ORDER BY event_type
    """,
    tags=("A7", "W3", "A3"),
)
def var_breach_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W3] VaR coverage backtest — the acceptance metric for
    ``historical_var``'s risk model, the finance twin of the dedup/ANN
    recall rows: estimate each day's VaR from the TRAILING
    ``_VAR_BT_WINDOW`` daily returns (k-th smallest order statistic,
    the same rank-based definition as ``historical_var`` — no
    interpolation, no threshold compare), flag a breach when the
    realized return lands below it, and score the breach count against
    the estimator's exact finite-sample coverage k/(W+1) with a
    binomial z statistic (the normal-approximation coverage test;
    Kupiec's POF is the LR flavor of the same null). Determinism: daily
    sums are exact decimal, returns are identical double expressions,
    the per-day threshold is an order statistic over a ROWS frame both
    engines build identically, and the z arithmetic is +,·,/,sqrt of
    the same doubles (all IEEE correctly rounded, with the coverage
    probability embedded as one Python-computed literal in BOTH
    engines) — bit-exact end to end, nothing rounded. Scale: one
    shuffle to daily bars, one per-instrument window; the rolling
    collect_list holds W=10 doubles per row — bounded by the window
    constant, not data volume."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        dsum(F.col("value")).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    rets = (
        daily.withColumn("prev", F.lag("v").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != 0))
        .select(
            "event_type",
            "day",
            ((F.col("v") - F.col("prev")) / F.col("prev")).alias("r"),
        )
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_VAR_BT_WINDOW, -1)
    )
    tested = (
        rets.withColumn("trail", F.collect_list("r").over(wt))
        .filter(F.size("trail") == _VAR_BT_WINDOW)
        .select(
            "event_type",
            "r",
            F.element_at(F.array_sort("trail"), _VAR_BT_K).alias("var_t"),
        )
    )
    p = F.expr(f"{_VAR_BT_P}D")
    agg = tested.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tested"),
        F.coalesce(
            F.sum(F.when(F.col("r") < F.col("var_t"), F.lit(1))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_breaches"),
    )
    return (
        agg.filter(F.col("n_tested") > 0)
        .select(
            "event_type",
            "n_tested",
            "n_breaches",
            (F.col("n_breaches").cast("double") / F.col("n_tested")).alias(
                "breach_rate"
            ),
            (
                (F.col("n_breaches") - F.col("n_tested") * p)
                / F.sqrt(F.col("n_tested") * p * (F.lit(1.0) - p))
            ).alias("coverage_z"),
        )
        .orderBy("event_type")
    )


#: Shared daily-close-return CTE prefix for the risk/beta oracles: per
#: (event_type, day) the LAST tick's value is the close (deterministic
#: total order — ts DESC then event_id DESC, the bar-close convention
#: of `ohlcv_bars`), and the return series is close-to-close log
#: returns within each event_type.  The only cross-engine-sensitive op
#: before the moment sums is `ln` (both engines' libm agree to within
#: the DECIMAL snap grain on this data — the `realized_bipower`
#: precedent).
_DAILY_RET_CTES = """
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    closes AS (
      SELECT event_type, day, value AS close FROM (
        SELECT event_type, date_trunc('day', ts) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events_us
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT event_type, day, close,
             CASE WHEN close > 0 AND LAG(close) OVER w > 0
                  THEN ln(close / LAG(close) OVER w) END AS r
      FROM closes
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
"""


def _daily_close_returns(spark: SparkSession, sf_dir: str):
    """(closes, rets) DataFrames matching ``_DAILY_RET_CTES``: the close
    is ``max_by(value, struct(ts, event_id))`` — ONE partial+final hash
    aggregation over the tick table (the only big-data pass; output is
    types × days rows), never a window sort over ticks."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    closes = (
        e.groupBy("event_type", day.alias("day"))
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("close"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("close").over(w)
    rets = closes.select(
        "event_type",
        "day",
        "close",
        F.when((F.col("close") > 0) & (prev > 0), F.log(F.col("close") / prev)).alias(
            "r"
        ),
    )
    return closes, rets


@query(
    "risk_adjusted_returns",
    oracle=_DAILY_RET_CTES
    + """
    , stats AS (
      SELECT event_type,
             CAST(COUNT(r) AS BIGINT) AS n_days,
             CAST(SUM(CAST(r AS DECIMAL(30,6))) AS DOUBLE) AS sr,
             CAST(SUM(CAST(r * r AS DECIMAL(38,6))) AS DOUBLE) AS srr,
             CAST(SUM(CASE WHEN r < 0 THEN CAST(r * r AS DECIMAL(38,6)) END)
                  AS DOUBLE) AS sneg
      FROM rets WHERE r IS NOT NULL GROUP BY event_type
    ), dd AS (
      SELECT event_type,
             COALESCE(MAX(CASE WHEN run_peak > 0
                          THEN (run_peak - close) / run_peak END), 0.0) AS mdd
      FROM (SELECT event_type, close,
                   MAX(close) OVER (PARTITION BY event_type ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS run_peak
            FROM closes) GROUP BY event_type
    )
    SELECT stats.event_type, n_days,
           ROUND(sr / n_days, 6) AS mean_ret,
           CASE WHEN n_days * srr - sr * sr > 0
                THEN ROUND(sqrt((n_days * srr - sr * sr)
                                / (CAST(n_days AS DOUBLE) * (n_days - 1))), 6)
           END AS vol,
           CASE WHEN n_days * srr - sr * sr > 0
                THEN ROUND((sr / n_days)
                           / sqrt((n_days * srr - sr * sr)
                                  / (CAST(n_days AS DOUBLE) * (n_days - 1))), 6)
           END AS sharpe,
           CASE WHEN sneg > 0
                THEN ROUND((sr / n_days) / sqrt(sneg / n_days), 6) END AS sortino,
           mdd AS max_drawdown,
           CASE WHEN mdd > 0 THEN ROUND((sr / n_days) / mdd, 6) END AS calmar
    FROM stats JOIN dd ON stats.event_type = dd.event_type
    ORDER BY stats.event_type
    """,
    tags=("A7", "F6"),
)
def risk_adjusted_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/F6] Per-series risk-adjusted performance — Sharpe (mean over
    sample stddev), Sortino (mean over downside deviation, full-sample
    denominator), and Calmar (mean over maximum drawdown) on the daily
    close-to-close log returns, the standard risk triple a strategy
    monitor reads off the reference's per-symbol Cassandra rollups
    (reference declares the metric surface at
    dags/ingestion_yfinance_data_to_cassandra_db.py:254-269; the stub
    processing functions compute none of this).

    Exactness: moment sums ride DECIMAL snaps (the `correlation`
    recipe), drawdown is the bit-exact order-statistic walk (the
    `drawdown_fold` argument), ratios ROUND to 6 at the very end, and
    degenerate groups (zero variance, no negative return, zero
    drawdown) emit NULL identically in both engines.

    Scale: the tick table is touched ONCE by a partial+final hash
    aggregation into types × days close rows; everything after runs on
    that tiny frame (window walk + two scalar aggs + a tiny join)."""
    closes, rets = _daily_close_returns(spark, sf_dir)
    r = F.col("r")
    stats = (
        rets.filter(r.isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("r").cast("bigint").alias("n_days"),
            F.sum(r.cast(DEC)).cast("double").alias("sr"),
            F.sum((r * r).cast("decimal(38,6)")).cast("double").alias("srr"),
            F.sum(F.when(r < 0, (r * r).cast("decimal(38,6)")))
            .cast("double")
            .alias("sneg"),
        )
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("close").over(wp)
    dd = (
        closes.select(
            "event_type",
            "close",
            peak.alias("run_peak"),
        )
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("run_peak") > 0,
                        (F.col("run_peak") - F.col("close")) / F.col("run_peak"),
                    )
                ),
                F.lit(0.0),
            ).alias("mdd")
        )
    )
    n = F.col("n_days")
    sr, srr, sneg = F.col("sr"), F.col("srr"), F.col("sneg")
    m2 = n * srr - sr * sr  # n·Σr² − (Σr)² — ≥0 up to snap noise
    var = m2 / (n.cast("double") * (n - F.lit(1)))
    mean = sr / n
    mdd = F.col("mdd")
    return (
        stats.join(dd, "event_type")
        .select(
            "event_type",
            "n_days",
            F.round(mean, 6).alias("mean_ret"),
            F.when(m2 > 0, F.round(F.sqrt(var), 6)).alias("vol"),
            F.when(m2 > 0, F.round(mean / F.sqrt(var), 6)).alias("sharpe"),
            F.when(sneg > 0, F.round(mean / F.sqrt(sneg / n), 6)).alias("sortino"),
            mdd.alias("max_drawdown"),
            F.when(mdd > 0, F.round(mean / mdd, 6)).alias("calmar"),
        )
        .orderBy("event_type")
    )


@query(
    "market_beta",
    oracle=_DAILY_RET_CTES
    + """
    , mkt AS (
      SELECT day,
             CAST(SUM(CAST(r AS DECIMAL(30,6))) AS DOUBLE) / COUNT(r) AS r_mkt
      FROM rets WHERE r IS NOT NULL GROUP BY day
    ), joined AS (
      SELECT rets.event_type, rets.r, mkt.r_mkt
      FROM rets JOIN mkt ON rets.day = mkt.day
      WHERE rets.r IS NOT NULL
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CAST(r_mkt AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(r AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(r_mkt * r_mkt AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(r_mkt * r AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM joined GROUP BY event_type
    )
    SELECT event_type, n_days,
           CASE WHEN n_days * sxx - sx * sx > 0
                THEN ROUND((n_days * sxy - sx * sy) / (n_days * sxx - sx * sx), 6)
           END AS beta,
           CASE WHEN n_days * sxx - sx * sx > 0
                THEN ROUND((sy - (n_days * sxy - sx * sy)
                                 / (n_days * sxx - sx * sx) * sx) / n_days, 6)
           END AS alpha
    FROM s ORDER BY event_type
    """,
    tags=("A7", "J2"),
)
def market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/J2] CAPM-style market beta and alpha per series: regress each
    event_type's daily log return on the equal-weight cross-sectional
    market return (the average same-day return over all series) —
    beta = cov(r, r_mkt)/var(r_mkt) and alpha = mean residual, via the
    same exact decimal moment-sum formulation as `correlation` /
    `ols_regression`.

    Exactness: r_mkt is a snapped-decimal-sum over the day's returns
    divided by the count (identical doubles both engines), the moment
    products snap to DECIMAL(38,6) before summing, and both ratios
    ROUND to 6 only at the end; a degenerate market (zero variance)
    emits NULL beta/alpha identically.

    Scale: ticks collapse once into types × days closes (partial+final
    hash agg); the per-day market table is days-sized, so the
    enrichment join BROADCASTS it back onto the return frame — no
    second shuffle of anything data-sized."""
    _closes, rets = _daily_close_returns(spark, sf_dir)
    r = F.col("r")
    valid = rets.filter(r.isNotNull())
    mkt = valid.groupBy("day").agg(
        (F.sum(r.cast(DEC)).cast("double") / F.count("r")).alias("r_mkt")
    )
    joined = valid.join(F.broadcast(mkt), "day").select("event_type", "r", "r_mkt")
    x, y = F.col("r_mkt"), F.col("r")
    s = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((x * y).cast("decimal(38,6)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n_days"), F.col("sx"), F.col("sy")
    varx = n * F.col("sxx") - sx * sx
    beta = (n * F.col("sxy") - sx * sy) / varx
    return s.select(
        "event_type",
        "n_days",
        F.when(varx > 0, F.round(beta, 6)).alias("beta"),
        F.when(varx > 0, F.round((sy - beta * sx) / n, 6)).alias("alpha"),
    ).orderBy("event_type")


#: Variance-ratio horizon (Lo–MacKinlay 1988): VR(4) compares the
#: variance of overlapping 4-day returns against 4x the 1-day variance —
#: ≈1 under a random walk, <1 mean-reversion, >1 momentum/trending.
VR_Q = 4


@query(
    "variance_ratio",
    oracle=_DAILY_RET_CTES
    + f"""
    , rm AS (
      SELECT event_type, day,
             CAST(CAST(r AS DECIMAL(30,6)) * 1000000 AS DECIMAL(12,0)) AS rm
      FROM rets WHERE r IS NOT NULL
    ), rq AS (
      SELECT event_type, rm,
             rm + LAG(rm, 1) OVER w + LAG(rm, 2) OVER w + LAG(rm, 3) OVER w AS rq
      FROM rm
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), m AS (
      SELECT event_type,
             CAST(COUNT(rm) AS BIGINT) AS n1,
             CAST(SUM(rm) AS DOUBLE) AS s1,
             CAST(SUM(CAST(rm AS DECIMAL(19,0)) * rm) AS DOUBLE) AS s11,
             CAST(COUNT(rq) AS BIGINT) AS nq,
             CAST(SUM(rq) AS DOUBLE) AS sq,
             CAST(SUM(CAST(rq AS DECIMAL(19,0)) * rq) AS DOUBLE) AS sqq
      FROM rq GROUP BY event_type
    )
    SELECT event_type, n1 AS n_rets, nq AS n_q,
           CASE WHEN nq > 1 AND (n1 * s11 - s1 * s1) > 0
                THEN ROUND(((nq * sqq - sq * sq) / (nq * nq) / {VR_Q}.0)
                           / ((n1 * s11 - s1 * s1) / (n1 * n1)), 6)
           END AS vr4
    FROM m ORDER BY event_type
    """,
    tags=("A7", "W2"),
)
def variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W2] Lo–MacKinlay variance ratio VR(4) per stream — the
    classic random-walk test on daily close-to-close log returns:
    overlapping 4-day return variance over 4x the 1-day variance
    (population variances, mean-adjusted). The regime screen a strategy
    desk runs before fitting momentum or mean-reversion models to a
    series.

    Exactness (the ``dsum_scaled``/``lead_lag_xcorr`` discipline,
    extended to a window lane): each daily return snaps ONCE to a
    x10^6 DECIMAL(12,0) integer; the 4-day return is an explicit
    rm + lag1 + lag2 + lag3 decimal ADDITION (exact, and the operand
    order is pinned — a windowed SUM's addition order is not
    cross-engine stable for doubles, but decimal addition is
    associative so even that wouldn't matter here); all four moment
    sums are exact decimal-integer lanes. VR is a variance RATIO, so
    the x10^6 scaling cancels algebraically and no unscaling ever
    happens — the emitted double derives from identical exact operands
    in both engines. Degenerate series (zero 1-day variance, <2 q-day
    returns) emit NULL identically.

    Scale: one tick-table hash aggregation to daily closes (the
    ``_daily_close_returns`` pass), then windows + one hash aggregation
    on the types x days frame — nothing data-sized after the first
    exchange."""
    closes, rets = _daily_close_returns(spark, sf_dir)
    valid = rets.filter(F.col("r").isNotNull())
    rm = snap_scaled("r")
    w = Window.partitionBy("event_type").orderBy("day")
    base = valid.select("event_type", "day", rm.alias("rm"))
    rq = (
        F.col("rm")
        + F.lag("rm", 1).over(w)
        + F.lag("rm", 2).over(w)
        + F.lag("rm", 3).over(w)
    )
    frame = base.select("event_type", "rm", rq.alias("rq"))
    m = frame.groupBy("event_type").agg(
        F.count("rm").cast("bigint").alias("n1"),
        F.sum("rm").cast("double").alias("s1"),
        F.sum(F.col("rm").cast("decimal(19,0)") * F.col("rm"))
        .cast("double")
        .alias("s11"),
        F.count("rq").cast("bigint").alias("nq"),
        F.sum("rq").cast("double").alias("sq"),
        F.sum(F.col("rq").cast("decimal(19,0)") * F.col("rq"))
        .cast("double")
        .alias("sqq"),
    )
    n1, s1, s11 = F.col("n1"), F.col("s1"), F.col("s11")
    nq, sq, sqq = F.col("nq"), F.col("sq"), F.col("sqq")
    var1 = (n1 * s11 - s1 * s1) / (n1 * n1)
    varq = (nq * sqq - sq * sq) / (nq * nq)
    return m.select(
        "event_type",
        n1.alias("n_rets"),
        nq.alias("n_q"),
        F.when((nq > 1) & ((n1 * s11 - s1 * s1) > 0), F.round(varq / VR_Q / var1, 6)).alias("vr4"),
    ).orderBy("event_type")


@query(
    "ulcer_index",
    oracle=_DAILY_RET_CTES
    + """
    , dd AS (
      SELECT event_type,
             CASE WHEN run_peak > 0
                  THEN 100.0 * (run_peak - close) / run_peak ELSE 0.0 END AS dd_pct
      FROM (SELECT event_type, close,
                   MAX(close) OVER (PARTITION BY event_type ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS run_peak
            FROM closes)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(MAX(dd_pct), 6) AS max_dd_pct,
           ROUND(sqrt(CAST(SUM(CAST(dd_pct * dd_pct AS DECIMAL(30,6))) AS DOUBLE)
                      / COUNT(*)), 6) AS ulcer_index
    FROM dd GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A7", "W4"),
)
def ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W4] Ulcer index per stream — the root-mean-square percentage
    drawdown over the daily close series (Martin & McCann): unlike max
    drawdown (a single worst point, see ``risk_adjusted_returns``) the
    ulcer index integrates DEPTH x DURATION of every underwater
    stretch, which is the risk number drawdown-averse allocators
    actually size against.

    Exactness: the running peak is a bit-exact order statistic on
    identical doubles; dd_pct derives from one subtract + divide on
    identical operands; each squared-drawdown term snaps to
    DECIMAL(30,6) before the order-free sum (terms ≤ 1e4 — the grain
    sits ~5e8 ULPs above them, far inside the safety bound); sqrt and
    the final ROUND run on identical doubles. Non-positive peaks
    contribute an exact 0 in both engines.

    Scale: the tick->daily-close hash aggregation is the only
    data-sized pass; the running-max window and the RMS aggregation run
    on the types x days frame."""
    closes, _ = _daily_close_returns(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("close").over(w)
    dd = F.when(
        peak > 0, 100.0 * (peak - F.col("close")) / peak
    ).otherwise(F.lit(0.0))
    frame = closes.select("event_type", dd.alias("dd_pct"))
    return (
        frame.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(F.max("dd_pct"), 6).alias("max_dd_pct"),
            F.round(
                F.sqrt(
                    F.sum((F.col("dd_pct") * F.col("dd_pct")).cast(DEC)).cast("double")
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("ulcer_index"),
        )
        .orderBy("event_type")
    )


@query(
    "realized_moments",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    rets AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CASE WHEN value > 0
                   AND LAG(value) OVER w > 0
                   AND date_trunc('day', LAG(ts) OVER w) = date_trunc('day', ts)
                  THEN ln(value / LAG(value) OVER w)
             END AS r
      FROM events_us
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), rm AS (
      SELECT event_type, day,
             CAST(CAST(r AS DECIMAL(30,6)) * 1000000 AS DECIMAL(12,0)) AS rm
      FROM rets WHERE r IS NOT NULL
    ), lanes AS (
      SELECT event_type, day, rm,
             CAST(rm AS DECIMAL(19,0)) * rm AS rm2
      FROM rm
    ), m AS (
      SELECT event_type, day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rm2) AS DOUBLE) AS s2,
             CAST(SUM(CAST(rm2 AS DECIMAL(25,0)) * rm) AS DOUBLE) AS s3,
             CAST(SUM(CAST(rm2 AS DECIMAL(19,0)) * CAST(rm2 AS DECIMAL(18,0)))
                  AS DOUBLE) AS s4
      FROM lanes GROUP BY event_type, day
    )
    SELECT event_type, day, n AS n_rets,
           CASE WHEN n > 2 AND s2 > 0
                THEN ROUND(sqrt(CAST(n AS DOUBLE)) * s3 / (s2 * sqrt(s2)), 6)
           END AS rskew,
           CASE WHEN n > 2 AND s2 > 0
                THEN ROUND(CAST(n AS DOUBLE) * s4 / (s2 * s2), 6)
           END AS rkurt
    FROM m ORDER BY event_type, day
    """,
    tags=("A7", "W2"),
)
def realized_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W2] Realized skewness and kurtosis per stream-day
    (Amaya–Christoffersen–Jacobs–Vasquez): RSkew = sqrt(n)*Σr³/RV^{3/2}
    picks up intraday crash asymmetry, RKurt = n*Σr⁴/RV² picks up tail
    weight — the higher-moment companions to ``realized_bipower``'s
    jump screen, computed from the same within-day (ts, event_id)-ordered
    log returns.

    Exactness: the ``dsum_scaled`` discipline extended to HIGHER powers —
    each return snaps ONCE to a x10^6 DECIMAL(12,0) integer, and r², r³,
    r⁴ are exact decimal-integer products with every width chosen so no
    engine rescales (Spark (25,0)x(12,0) and (19,0)x(18,0) both land
    exactly at precision 38; DuckDB at 37/36). Both statistics are
    scale-free ratios — sqrt(n)*S3/S2^{3/2} and n*S4/S2² are invariant
    under r -> c*r — so the x10^6 scaling cancels algebraically and the
    emitted doubles derive from identical exact operands in both
    engines. Degenerate days (n <= 2 or zero RV) emit NULL identically.

    Scale: one (event_type)-keyed window pass over ticks for the
    return (shared shape with ``realized_bipower`` — at scale the
    planner colocates), then one partial+final hash aggregation to
    day rows; the power lanes are map-side expressions."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    day = F.date_trunc("day", "ts")
    prev_v = F.lag("value").over(w)
    prev_day = F.date_trunc("day", F.lag("ts").over(w))
    r = F.when(
        (F.col("value") > 0) & (prev_v > 0) & (prev_day == day),
        F.log(F.col("value") / prev_v),
    )
    rets = e.select("event_type", day.alias("day"), r.alias("r")).filter(
        F.col("r").isNotNull()
    )
    rm = snap_scaled("r")
    lanes = rets.select(
        "event_type", "day", rm.alias("rm")
    ).withColumn("rm2", F.col("rm").cast("decimal(19,0)") * F.col("rm"))
    m = lanes.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rm2").cast("double").alias("s2"),
        F.sum(F.col("rm2").cast("decimal(25,0)") * F.col("rm"))
        .cast("double")
        .alias("s3"),
        F.sum(
            F.col("rm2").cast("decimal(19,0)") * F.col("rm2").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("s4"),
    )
    n, s2, s3, s4 = F.col("n"), F.col("s2"), F.col("s3"), F.col("s4")
    ok = (n > 2) & (s2 > 0)
    return m.select(
        "event_type",
        "day",
        n.alias("n_rets"),
        F.when(ok, F.round(F.sqrt(n.cast("double")) * s3 / (s2 * F.sqrt(s2)), 6)).alias(
            "rskew"
        ),
        F.when(ok, F.round(n.cast("double") * s4 / (s2 * s2), 6)).alias("rkurt"),
    ).orderBy("event_type", "day")


@query(
    "kyle_lambda",
    oracle="""
    WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    ranked AS (
      SELECT event_type, date_trunc('day', ts) AS day, value,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events_us
    ), days AS (
      SELECT event_type, day,
             MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
             CAST(SUM(CAST(value * k AS DECIMAL(30,6))) * 1000000
                  AS DECIMAL(18,0)) AS dvol_sc
      FROM ranked GROUP BY event_type, day
    ), flows AS (
      SELECT event_type,
             CAST(CAST(close - LAG(close) OVER w AS DECIMAL(30,6)) * 1000000
                  AS DECIMAL(12,0)) AS dp_mi,
             CASE WHEN close - LAG(close) OVER w > 0 THEN dvol_sc
                  WHEN close - LAG(close) OVER w < 0 THEN -dvol_sc
                  ELSE CAST(0 AS DECIMAL(18,0)) END AS sv
      FROM days
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dp_mi) AS DOUBLE) AS sdp,
             CAST(SUM(CAST(dp_mi AS DECIMAL(19,0)) * dp_mi) AS DOUBLE) AS sdp2,
             CAST(SUM(sv) AS DOUBLE) AS ssv,
             CAST(SUM(CAST(sv AS DECIMAL(19,0)) * sv) AS DOUBLE) AS ssv2,
             CAST(SUM(CAST(dp_mi AS DECIMAL(19,0)) * sv) AS DOUBLE) AS sdpsv
      FROM flows WHERE dp_mi IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CASE WHEN n > 1 AND (n * ssv2 - ssv * ssv) > 0
                THEN ROUND((n * sdpsv - sdp * ssv)
                           / (n * ssv2 - ssv * ssv) * 1000000000.0, 6)
           END AS lambda_per_1e9,
           CASE WHEN n > 1 AND (n * ssv2 - ssv * ssv) > 0
                     AND (n * sdp2 - sdp * sdp) > 0
                THEN ROUND((n * sdpsv - sdp * ssv) * (n * sdpsv - sdp * ssv)
                           / ((n * ssv2 - ssv * ssv) * (n * sdp2 - sdp * sdp)), 6)
           END AS r2
    FROM m ORDER BY event_type
    """,
    tags=("A7", "F9"),
)
def kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7] Kyle's lambda (price-impact) proxy per stream — the OLS
    slope of daily price change on tick-rule SIGNED dollar volume
    (sign(Δclose)·Σ value·k), reported per 1e9 of flow, plus the
    regression r². The price-impact companion to
    ``amihud_illiquidity`` (which is the ratio estimator of the same
    quantity) and ``roll_spread`` in the microstructure panel — λ is
    what an execution desk sizes participation against.

    Exactness: both regression inputs are EXACT integers — Δclose snaps
    once to x10^6 micros (DECIMAL(12,0); closes are identical doubles,
    the subtract is one IEEE op), signed dollar volume is the
    ``dsum_scaled`` x10^6 integer with its sign flipped by CASE (no
    multiply) — so all five moment lanes are exact decimal products
    (widths pinned at Spark (19,0)x(18,0) -> (38,0), no rescale).
    λ's x10^6/x10^6 scaling cancels in the covariance/variance ratio;
    r² is scale-free. Degenerate groups (zero signed-flow variance,
    zero price-change variance, n <= 1) emit NULL identically.

    Scale: one tick-table hash aggregation to (type, day) rows —
    shared shape with ``amihud_illiquidity`` — then windows + one hash
    aggregation on the tiny daily frame."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    tiebreak = F.struct(F.col("ts"), F.col("event_id"))
    days = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.max_by("value", tiebreak).alias("close"),
        dsum_scaled(F.col("value") * k).alias("dvol_sc"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    dp = F.col("close") - F.lag("close").over(w)
    dp_mi = snap_scaled(dp)
    sv = (
        F.when(dp > 0, F.col("dvol_sc"))
        .when(dp < 0, -F.col("dvol_sc"))
        .otherwise(F.lit(0).cast("decimal(18,0)"))
    )
    flows = days.select(
        "event_type", dp_mi.alias("dp_mi"), sv.alias("sv")
    ).filter(F.col("dp_mi").isNotNull())
    m = flows.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dp_mi").cast("double").alias("sdp"),
        F.sum(F.col("dp_mi").cast("decimal(19,0)") * F.col("dp_mi"))
        .cast("double")
        .alias("sdp2"),
        F.sum("sv").cast("double").alias("ssv"),
        F.sum(F.col("sv").cast("decimal(19,0)") * F.col("sv"))
        .cast("double")
        .alias("ssv2"),
        F.sum(F.col("dp_mi").cast("decimal(19,0)") * F.col("sv"))
        .cast("double")
        .alias("sdpsv"),
    )
    n = F.col("n")
    sdp, sdp2 = F.col("sdp"), F.col("sdp2")
    ssv, ssv2, sdpsv = F.col("ssv"), F.col("ssv2"), F.col("sdpsv")
    var_sv = n * ssv2 - ssv * ssv
    var_dp = n * sdp2 - sdp * sdp
    cov = n * sdpsv - sdp * ssv
    ok = (n > 1) & (var_sv > 0)
    return m.select(
        "event_type",
        n.alias("n_days"),
        F.when(ok, F.round(cov / var_sv * 1_000_000_000.0, 6)).alias("lambda_per_1e9"),
        F.when(ok & (var_dp > 0), F.round(cov * cov / (var_sv * var_dp), 6)).alias(
            "r2"
        ),
    ).orderBy("event_type")


#: ln(2) pinned as ONE shared double literal (the GK_COEF rule) — the
#: Hurst regression's x-axis is j*ln2 for block sizes 2^j, so the whole
#: 4-point OLS collapses to fixed weights over the log-variances.
LN2 = 0.6931471805599453


@query(
    "hurst_aggvar",
    oracle=_DAILY_RET_CTES
    + f"""
    , rm AS (
      SELECT event_type, day,
             CAST(CAST(r AS DECIMAL(30,6)) * 1000000 AS DECIMAL(12,0)) AS rm
      FROM rets WHERE r IS NOT NULL
    ), lagged AS (
      SELECT event_type, rm,
             rm + LAG(rm, 1) OVER w AS r2,
             rm + LAG(rm, 1) OVER w + LAG(rm, 2) OVER w + LAG(rm, 3) OVER w AS r4,
             rm + LAG(rm, 1) OVER w + LAG(rm, 2) OVER w + LAG(rm, 3) OVER w
                + LAG(rm, 4) OVER w + LAG(rm, 5) OVER w + LAG(rm, 6) OVER w
                + LAG(rm, 7) OVER w AS r8
      FROM rm
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), m AS (
      SELECT event_type,
             CAST(COUNT(rm) AS BIGINT) AS n1,
             CAST(SUM(rm) AS DOUBLE) AS s1,
             CAST(SUM(CAST(rm AS DECIMAL(19,0)) * rm) AS DOUBLE) AS s11,
             CAST(COUNT(r2) AS BIGINT) AS n2,
             CAST(SUM(r2) AS DOUBLE) AS s2,
             CAST(SUM(CAST(r2 AS DECIMAL(19,0)) * r2) AS DOUBLE) AS s22,
             CAST(COUNT(r4) AS BIGINT) AS n4,
             CAST(SUM(r4) AS DOUBLE) AS s4,
             CAST(SUM(CAST(r4 AS DECIMAL(19,0)) * r4) AS DOUBLE) AS s44,
             CAST(COUNT(r8) AS BIGINT) AS n8,
             CAST(SUM(r8) AS DOUBLE) AS s8,
             CAST(SUM(CAST(r8 AS DECIMAL(19,0)) * r8) AS DOUBLE) AS s88
      FROM lagged GROUP BY event_type
    ), vars AS (
      SELECT event_type, n1, n8,
             (n1 * s11 - s1 * s1) / (n1 * n1) AS v1,
             (n2 * s22 - s2 * s2) / (n2 * n2) AS v2,
             (n4 * s44 - s4 * s4) / (n4 * n4) AS v4,
             (n8 * s88 - s8 * s8) / (n8 * n8) AS v8
      FROM m
    )
    SELECT event_type, n1 AS n_rets,
           CASE WHEN n8 > 1 AND v1 > 0 AND v2 > 0 AND v4 > 0 AND v8 > 0
                THEN ROUND((-1.5 * ln(v1) - 0.5 * ln(v2)
                            + 0.5 * ln(v4) + 1.5 * ln(v8))
                           / (10.0 * {LN2}), 6)
           END AS hurst
    FROM vars ORDER BY event_type
    """,
    tags=("A7", "W2"),
)
def hurst_aggvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W2] Hurst exponent via the aggregated-variance method — the
    long-memory screen companion to ``variance_ratio``: the variance of
    q-day overlapping returns grows like q^(2H), so H is half the OLS
    slope of ln(var_q) on ln(q) over block sizes q in {1,2,4,8}.
    H ≈ 0.5 is a random walk, > 0.5 trending/persistent, < 0.5
    mean-reverting — the regime number behind momentum-vs-reversion
    strategy selection.

    Exactness: the same ``dsum_scaled`` window-lane discipline as
    ``variance_ratio`` (one ×10^6 snap per return, explicit decimal lag
    additions, exact integer moment lanes; variances scale-cancel in
    the LOG-DIFFERENCE — a constant c² multiplies every var_q, shifting
    all four logs equally, and the regression weights sum to zero so
    the shift cancels algebraically). The 4-point OLS collapses to
    fixed literal weights (x_j = j·ln2 ⇒ slope = Σ(j−1.5)·ln v_j /
    (5·ln2); H = slope/2), with ln(2) pinned as ONE shared double
    literal (the GK_COEF rule — never each engine's own transcendental).
    Degenerate series (any zero variance, <2 8-day returns) emit NULL
    identically.

    Scale: identical shape to ``variance_ratio`` — one tick-table hash
    aggregation, then windows + one hash aggregation on the types×days
    frame."""
    closes, rets = _daily_close_returns(spark, sf_dir)
    valid = rets.filter(F.col("r").isNotNull())
    rm = snap_scaled("r")
    w = Window.partitionBy("event_type").orderBy("day")
    base = valid.select("event_type", "day", rm.alias("rm"))

    def qsum(q: int):
        out = F.col("rm")
        for j in range(1, q):
            out = out + F.lag("rm", j).over(w)
        return out

    lagged = base.select(
        "event_type",
        "rm",
        qsum(2).alias("r2"),
        qsum(4).alias("r4"),
        qsum(8).alias("r8"),
    )
    aggs = []
    for col, wide in (("rm", 19), ("r2", 19), ("r4", 19), ("r8", 19)):
        tag = "1" if col == "rm" else col[1:]
        aggs += [
            F.count(col).cast("bigint").alias(f"n{tag}"),
            F.sum(col).cast("double").alias(f"s{tag}"),
            F.sum(F.col(col).cast(f"decimal({wide},0)") * F.col(col))
            .cast("double")
            .alias(f"s{tag}{tag}"),
        ]
    m = lagged.groupBy("event_type").agg(*aggs)

    def var(tag: str):
        n, s, ss = F.col(f"n{tag}"), F.col(f"s{tag}"), F.col(f"s{tag}{tag}")
        return (n * ss - s * s) / (n * n)

    v1, v2, v4, v8 = var("1"), var("2"), var("4"), var("8")
    ok = (F.col("n8") > 1) & (v1 > 0) & (v2 > 0) & (v4 > 0) & (v8 > 0)
    hurst = (
        -1.5 * F.log(v1) - 0.5 * F.log(v2) + 0.5 * F.log(v4) + 1.5 * F.log(v8)
    ) / (10.0 * LN2)
    return m.select(
        "event_type",
        F.col("n1").alias("n_rets"),
        F.when(ok, F.round(hurst, 6)).alias("hurst"),
    ).orderBy("event_type")


@query(
    "drawdown_duration",
    oracle=_DAILY_RET_CTES
    + """
    , walk AS (
      SELECT event_type, day, close,
             MAX(close) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS run_peak,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM closes
    ), uw AS (
      SELECT event_type, day, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS island
      FROM walk WHERE close < run_peak
    ), spells AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS spell_days
      FROM uw GROUP BY event_type, island
    )
    SELECT w.event_type,
           CAST(MAX(w.rn) AS BIGINT) AS n_days,
           CAST(COALESCE(s.n_spells, 0) AS BIGINT) AS n_spells,
           CAST(COALESCE(s.longest, 0) AS BIGINT) AS longest_underwater_days,
           CASE WHEN s.n_spells > 0
                THEN s.total / CAST(s.n_spells AS DOUBLE) END AS avg_underwater_days
    FROM walk w
    LEFT JOIN (SELECT event_type, COUNT(*) AS n_spells, MAX(spell_days) AS longest,
                      SUM(spell_days) AS total
               FROM spells GROUP BY event_type) s
      ON s.event_type = w.event_type
    GROUP BY w.event_type, s.n_spells, s.longest, s.total
    ORDER BY w.event_type
    """,
    tags=("A7", "W4"),
)
def drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A7/W4] Underwater-spell durations per stream — the TIME axis of
    drawdown risk that ``risk_adjusted_returns``' max-drawdown (depth)
    and ``ulcer_index`` (depth×time RMS) don't expose directly: how
    many consecutive trading days the series spends below its running
    peak (a strict ``close < peak`` day is underwater), the number an
    allocator reads as "how long would I have waited to get back to
    even". Emits spell count, longest spell, and mean spell length.

    Exactness: the running peak is a bit-exact order statistic; the
    underwater flag is one comparison of identical doubles; spells are
    integer gaps-and-islands (rn − rn_underwater constant on runs), and
    the mean is one integer/integer divide — every lane exact, no
    rounding anywhere. Zero-spell series (monotone new highs) emit
    0 / 0 / NULL identically.

    Scale: the tick→daily-close hash aggregation is the only data-sized
    pass; two windows + two hash aggregations run on the types×days
    frame."""
    closes, _ = _daily_close_returns(spark, sf_dir)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrow = Window.partitionBy("event_type").orderBy("day")
    walk = closes.select(
        "event_type",
        "day",
        "close",
        F.max("close").over(wcum).alias("run_peak"),
        F.row_number().over(wrow).alias("rn"),
    )
    uw = walk.filter(F.col("close") < F.col("run_peak")).withColumn(
        "island", F.col("rn") - F.row_number().over(wrow)
    )
    spells = uw.groupBy("event_type", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("spell_days")
    )
    per_type = spells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_spells"),
        F.max("spell_days").alias("longest"),
        F.sum("spell_days").alias("total"),
    )
    days = walk.groupBy("event_type").agg(F.max("rn").cast("bigint").alias("n_days"))
    return (
        days.join(per_type, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            F.coalesce("n_spells", F.lit(0)).cast("bigint").alias("n_spells"),
            F.coalesce("longest", F.lit(0))
            .cast("bigint")
            .alias("longest_underwater_days"),
            F.when(
                F.col("n_spells") > 0,
                F.col("total").cast("double") / F.col("n_spells").cast("double"),
            ).alias("avg_underwater_days"),
        )
        .orderBy("event_type")
    )
