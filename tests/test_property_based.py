"""Property-based tests (hypothesis): the hand-rolled composite recipes
must agree with independent references on arbitrary generated inputs, not
just the fixture tables — as-of join vs pandas ``merge_asof``, salted
aggregation vs plain ``groupBy``.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from finance_data_ingestion_pipeline_with_kafka_spark.operators.skew import salted_agg

from .conftest import get_test_spark

EVENT = st.tuples(
    st.integers(min_value=1, max_value=5),  # user_id
    st.integers(min_value=0, max_value=50),  # ts (seconds)
    st.sampled_from(["purchase", "click"]),
    st.integers(min_value=1, max_value=100),  # value
)


def _asof_recipe(spark, rows):
    """The engine's union + carry-forward as-of recipe over generated
    (event_id, user_id, ts, event_type, value) rows."""
    df = spark.createDataFrame(
        [(i, u, float(t), et, float(v)) for i, (u, t, et, v) in enumerate(rows)],
        "event_id long, user_id long, ts double, event_type string, value double",
    )
    left = df.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("side")
    )
    right = df.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value", F.lit(0).alias("side")
    )
    unioned = left.unionByName(right)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r_val = F.when(F.col("side") == 0, F.col("value"))
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "side",
        F.last(r_val, ignorenulls=True).over(w).alias("last_click_value"),
    )
    return (
        carried.filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "last_click_value")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(EVENT, min_size=1, max_size=40))
def test_asof_recipe_matches_pandas_merge_asof(rows):
    spark = get_test_spark()
    got = _asof_recipe(spark, rows)
    pdf = pd.DataFrame(
        [(i, u, float(t), et, float(v)) for i, (u, t, et, v) in enumerate(rows)],
        columns=["event_id", "user_id", "ts", "event_type", "value"],
    )
    left = pdf[pdf.event_type == "purchase"].sort_values(["ts", "event_id"])
    right = pdf[pdf.event_type == "click"].sort_values(["ts", "event_id"])
    if left.empty:
        assert got.empty
        return
    # pandas reference: backward (<=) as-of per user; on duplicate right
    # timestamps merge_asof takes the LAST row in sort order — matching
    # the recipe's largest-event_id tie-break
    ref = pd.merge_asof(
        left,
        right[["user_id", "ts", "value"]].rename(columns={"value": "last_click_value"}),
        on="ts",
        by="user_id",
        direction="backward",
    ).sort_values("event_id")[["event_id", "user_id", "ts", "last_click_value"]].reset_index(
        drop=True
    )
    pd.testing.assert_frame_equal(got, ref, check_dtype=False)


GROUP_ROW = st.tuples(
    st.sampled_from(["AAPL", "MSFT", "GOOG"]),
    st.integers(min_value=-1000, max_value=1000),
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(GROUP_ROW, min_size=1, max_size=60), n_salts=st.sampled_from([1, 4, 16]))
def test_salted_agg_equals_plain_groupby(rows, n_salts):
    spark = get_test_spark()
    df = spark.createDataFrame(rows, "sym string, x long")
    got = {
        (r["sym"],): (r["total"], r["n"], r["mx"])
        for r in salted_agg(
            df,
            ["sym"],
            {"total": ("sum", F.col("x")), "n": ("count", F.col("x")), "mx": ("max", F.col("x"))},
            n_salts=n_salts,
        ).collect()
    }
    want = {
        (r["sym"],): (r["total"], r["n"], r["mx"])
        for r in df.groupBy("sym")
        .agg(F.sum("x").alias("total"), F.count("x").alias("n"), F.max("x").alias("mx"))
        .collect()
    }
    assert got == want


#: Up to ±1e10: past 2^42/10^6 ≈ 4.4e6 the scaled value has a non-zero
#: high limb, and negatives exercise the sign-extended one.
FLOATS = st.lists(
    st.integers(min_value=-10**13, max_value=10**13).map(lambda n: n / 1000.0),
    min_size=1,
    max_size=80,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(xs=FLOATS, parts=st.sampled_from([1, 3, 7]))
@example(xs=[4.4e6, -4.4e6, 0.000001, -0.000001], parts=3)
@example(xs=[-9999999999.999, 8796093.022208, -4398046.511104, 12.5], parts=7)
def test_dsum_matches_serial_decimal_reference(xs, parts):
    """dsum over ANY partitioning equals the serial fixed-point reference:
    per-element round-half-away-from-zero at 6 digits (in double
    arithmetic, mirroring the plan), exact integer total, one double
    division. The examples pin high limbs of both signs, exact limb
    boundaries (2^42 and 2^43 scaled) and values whose low limbs are all
    ones (-1 scaled)."""
    import math

    spark = get_test_spark()
    from finance_data_ingestion_pipeline_with_kafka_spark.functions.core import dsum

    df = spark.createDataFrame([(float(x),) for x in xs], "v double").repartition(parts)
    got = df.agg(dsum("v").alias("s")).collect()[0]["s"]

    def scaled(x: float) -> int:
        return math.floor(x * 1e6 + 0.5) if x >= 0 else -math.floor(-x * 1e6 + 0.5)

    want = float(sum(scaled(x) for x in xs)) / 1e6
    assert got == want  # bit-exact, not approximately


JOIN_FACT = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 100)), min_size=1, max_size=60
)
JOIN_DIM = st.lists(
    st.tuples(st.integers(0, 6), st.sampled_from(["x", "y", "z"])),
    min_size=1,
    max_size=10,
    unique_by=lambda t: t[0],
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(fact=JOIN_FACT, dim=JOIN_DIM, n_salts=st.sampled_from([1, 4, 8]))
def test_salted_join_equals_plain_join(fact, dim, n_salts):
    spark = get_test_spark()
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.skew import salted_join

    f = spark.createDataFrame(fact, "k long, v long")
    d = spark.createDataFrame(dim, "k long, tag string")
    got = sorted(map(tuple, salted_join(f, d, "k", n_salts=n_salts).collect()))
    want = sorted(map(tuple, f.join(d, "k").collect()))
    assert got == want


# --- codec roundtrip properties (pure Python — no Spark session) ---


@given(
    width=st.integers(min_value=1, max_value=9),
    height=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
def test_bmp_roundtrip_any_geometry(width, height, data):
    """encode→decode is the identity for EVERY geometry — padding widths
    0-3 and single-pixel edge cases included."""
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=width * height * 3,
                max_size=width * height * 3,
            )
        )
    )
    assert decode_bmp(encode_bmp(rgb, width, height)) == (width, height, rgb)


@given(
    n_samples=st.integers(min_value=0, max_value=50),
    rate=st.sampled_from([8000, 12000, 16000, 44100]),
    data=st.data(),
)
def test_wav_roundtrip_any_length(n_samples, rate, data):
    """encode→decode identity for every PCM length — odd-byte padding
    (via the chunk even-alignment rule) and the empty stream included."""
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    pcm = bytes(
        data.draw(
            st.lists(st.integers(0, 255), min_size=n_samples * 2, max_size=n_samples * 2)
        )
    )
    assert decode_wav(encode_wav(pcm, rate)) == (rate, 1, pcm)


@given(
    width=st.integers(min_value=1, max_value=8),
    height=st.integers(min_value=1, max_value=11),
    data=st.data(),
)
def test_png_roundtrip_any_geometry(width, height, data):
    """encode→decode identity for every geometry. height ≥ 6 guarantees
    all five scanline filters appear (encoder cycles filter = row % 5);
    random bytes are zlib's worst case, so the stored-vs-compressed path
    both shrink and grow relative to raw."""
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=width * height * 3,
                max_size=width * height * 3,
            )
        )
    )
    assert decode_png(encode_png(rgb, width, height)) == (width, height, rgb)


@given(
    ts=st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=60),
    gap=st.integers(min_value=1, max_value=500),
    split=st.integers(min_value=0, max_value=60),
)
@settings(max_examples=200, deadline=None)
def test_sweep_merge_sessions_any_arrival_order(ts, gap, split):
    """Property: the shared sweep-merge fold (used by both the streaming
    sessionizer and the batch session_fold_sessions query) equals
    brute-force gap sessionization for ANY event multiset — and folding
    incrementally in two arbitrary chunks (the cross-micro-batch shape,
    including out-of-order arrivals) yields the same sessions as one
    global fold, provided the late chunk stays within the open session's
    merge horizon (the watermark contract)."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        sweep_merge_sessions,
    )

    def brute(sorted_ts):
        sessions = []
        for t in sorted_ts:
            # inclusive at the boundary, matching Spark's built-in
            if sessions and t <= sessions[-1][1] + gap:
                s = sessions[-1]
                s[1] = max(s[1], t)
                s[2] += 1
                s[3] += t
            else:
                sessions.append([t, t, 1, t])
        return sessions

    want = brute(sorted(ts))
    got = sweep_merge_sessions([[t, t, 1, t] for t in ts], gap)
    assert got == want

    # incremental: fold chunk A, keep ALL resulting sessions as state
    # fragments, then fold chunk B on top — same result regardless of
    # how the multiset was split (sessions are closed eagerly in the
    # real operator, so this models the state-carry correctness of the
    # merge itself)
    split = min(split, len(ts))
    a, b = ts[:split], ts[split:]
    partial = sweep_merge_sessions([[t, t, 1, t] for t in a], gap)
    final = sweep_merge_sessions(partial + [[t, t, 1, t] for t in b], gap)
    assert final == want


ORDERED_TICKS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.floats(min_value=1.0, max_value=1000.0, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=80,
    unique_by=lambda t: t[0],
)
BATCH_CUTS = st.lists(st.integers(min_value=0, max_value=80), max_size=6)
WATERMARK_LAG = st.integers(min_value=0, max_value=10_000)
IDLE_ADVANCES = st.lists(st.integers(min_value=0, max_value=10_000), max_size=6)


def _buffered_history(update, ticks, cuts, lag, idle):
    """Feed ``ticks`` [(ts_ms, px)] through a shipped watermark-buffered
    update function, on a ``FakeGroupState``, in an arbitrary arrival
    permutation (deterministic shuffle) cut into arbitrary micro-batches,
    under the watermark contract Spark applies: the pre-batch watermark
    is the prior max event time − ``lag``, arrivals at or below it are
    late-DROPPED, and a key without data is called only when its
    event-time timer has passed. After batch i, ``idle[i]`` models other
    keys advancing event time by that much while this key stays quiet
    for a batch. A final timer flush runs once the watermark passes
    everything. Returns (emitted rows, admitted ticks)."""
    from .conftest import FakeGroupState

    arrival = sorted(ticks, key=lambda t: hash((t[0], 31)) % 1000)
    bounds = sorted({min(c, len(arrival)) for c in cuts} | {len(arrival)})
    batches, prev_b = [], 0
    for b in bounds:
        if b > prev_b:
            batches.append(arrival[prev_b:b])
            prev_b = b
    state = FakeGroupState()
    frames, admitted, max_seen = [], [], -1

    def quiet_batch():
        if state.timeout_ms is not None and state.timeout_ms < state.watermark_ms:
            frames.extend(state.call(update, ("S",), timed_out=True))

    for i, batch in enumerate(batches):
        keep = [t for t in batch if t[0] > state.watermark_ms]  # the gate
        admitted.extend(keep)
        if keep:
            pdf = pd.DataFrame(
                {
                    "datetime": pd.to_datetime([t for t, _ in keep], unit="ms"),
                    "last_price": [x for _, x in keep],
                }
            )
            frames += state.call(update, ("S",), [pdf])
            # eviction: the state keeps only ticks the watermark this
            # call saw has not passed (buffers are (ts_ms, px), so the
            # event-time column is second from last)
            assert all(t > state.watermark_ms for t in state.get[-2])
            max_seen = max(max_seen, max(t for t, _ in keep))
        else:
            quiet_batch()
        state.watermark_ms = max_seen - lag  # lags one batch, as in Spark
        if i < len(idle):
            max_seen += idle[i]
            state.watermark_ms = max_seen - lag
            quiet_batch()
    if state.timeout_ms is not None:
        state.watermark_ms = 10**9
        frames += state.call(update, ("S",), timed_out=True)
    assert state.get[-1] == []  # every buffered tick folded
    rows = []
    for f in frames:
        f = f.drop(columns="symbol")
        if "datetime" in f:
            f["datetime"] = f["datetime"].astype("int64") // 1_000_000
        rows += [tuple(r) for r in f.itertuples(index=False)]
    return rows, admitted


@given(ticks=ORDERED_TICKS, cuts=BATCH_CUTS, lag=WATERMARK_LAG, idle=IDLE_ADVANCES)
@settings(max_examples=200, deadline=None)
def test_rsi_fold_incremental_equals_global(ticks, cuts, lag, idle):
    """Property of the shipped streaming-RSI update function
    (``watermark_buffered`` around ``rsi_fold``): for ANY partition of a
    tick series into micro-batches in ANY arrival order, the
    concatenated emissions — after a final timer flush — equal the
    single global event-time-ordered fold over the ADMITTED ticks. This
    is the exactly-once, order-correct contract
    `test_rsi_stream_volume_parity_out_of_order` pins on Spark, checked
    here across 200 generated histories including ones where the
    watermark genuinely drops ticks. An admitted tick always folds in
    event-time position: a newer tick can only have folded earlier if
    the watermark already passed it, and then the older arrival would
    have been dropped at the gate."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming import stateful

    got, admitted = _buffered_history(stateful._rsi_update, ticks, cuts, lag, idle)
    assert got == stateful.rsi_fold(0.0, [], 0, sorted(admitted))[3]


@pytest.mark.parametrize("op", ["ewma", "macd", "bollinger"])
@given(ticks=ORDERED_TICKS, cuts=BATCH_CUTS, lag=WATERMARK_LAG, idle=IDLE_ADVANCES)
@settings(max_examples=200, deadline=None)
def test_ordered_fold_incremental_equals_global(op, ticks, cuts, lag, idle):
    """The RSI property above, for the other tick indicators on the same
    buffer. MACD and Bollinger emit one row per tick: the emissions equal
    the global fold's rows. The ordered EWMA emits its level after each
    fold: every emitted (ewma, n_obs) is the global fold over the first
    n_obs admitted ticks, and the last one covers them all."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming import stateful

    update = {
        "ewma": stateful._ewma_ordered_update,
        "macd": stateful._macd_update,
        "bollinger": stateful._bollinger_update,
    }[op]
    got, admitted = _buffered_history(update, ticks, cuts, lag, idle)
    ordered = sorted(admitted)
    if op == "macd":
        assert got == stateful.macd_fold([], [], 0, ordered)[3]
    elif op == "bollinger":
        assert got == stateful.bollinger_fold([], 0, ordered)[2]
    else:
        prices = [x for _, x in ordered]
        assert got == [stateful.ewma_fold(None, 0, prices[:n]) for _, n in got]
        assert got[-1][1] == len(ordered)


@settings(max_examples=200, deadline=None)
@given(
    prices=st.lists(
        st.one_of(
            st.none(),
            st.just(float("nan")),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        ),
        max_size=60,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=60), max_size=5),
)
def test_ewma_fold_split_invariance(prices, cuts):
    """State-carry law of ``ewma_fold``, the fold both EWMA operators
    run: folding ANY split of a price series piece by piece through the
    carried (level, count) equals one fold over the whole series,
    bit-exactly; None/NaN prices are skipped."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        ewma_fold,
    )

    y, n, prev = None, 0, 0
    for c in sorted(min(c, len(prices)) for c in cuts) + [len(prices)]:
        y, n = ewma_fold(y, n, prices[prev:c])
        prev = c
    assert (y, n) == ewma_fold(None, 0, prices)
    assert n == sum(1 for x in prices if x is not None and x == x)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # day bucket
            st.integers(min_value=0, max_value=30),  # start second
            st.integers(min_value=0, max_value=30),  # length seconds
        ),
        min_size=1,
        max_size=20,
    )
)
def test_sweep_concurrency_matches_bruteforce(ivs):
    """The sweep-line kernel must equal the brute-force definition on
    arbitrary generated intervals: max over start instants s of
    #{[t0, t1] : t0 <= s <= t1} per day — touching counts as
    concurrent, matching the kernel's +1-before-−1 tie order."""
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.timeseries import (
        max_concurrency_from_intervals,
    )

    spark = get_test_spark()
    rows = [(d, float(s), float(s + ln)) for d, s, ln in ivs]
    iv = spark.createDataFrame(rows, "day int, t0 double, t1 double")
    got = {
        r["day"]: r["max_concurrent"]
        for r in max_concurrency_from_intervals(iv).collect()
    }
    expect = {}
    for d in {r[0] for r in rows}:
        day_ivs = [(t0, t1) for dd, t0, t1 in rows if dd == d]
        expect[d] = max(
            sum(1 for t0, t1 in day_ivs if t0 <= s <= t1) for s, _ in day_ivs
        )
    assert got == expect


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    users=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.sets(st.integers(min_value=0, max_value=25), min_size=1, max_size=15),
        ),
        min_size=1,
        max_size=3,
        unique_by=lambda t: t[0],
    )
)
def test_streaks_kernel_matches_runlength_scan(users):
    """The gaps-and-islands kernel must equal a brute-force run-length
    scan over arbitrary generated day sets: n_active_days = |days|,
    and (n_streaks, max_streak) from scanning sorted days for
    consecutive runs."""
    import datetime as dt

    from finance_data_ingestion_pipeline_with_kafka_spark.operators.timeseries import (
        streaks_from_days,
    )

    spark = get_test_spark()
    base = dt.date(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(days=d)) for u, days in users for d in days
    ]
    df = spark.createDataFrame(rows, "user_id long, day date")
    got = {
        r["user_id"]: (r["n_active_days"], r["n_streaks"], r["max_streak"])
        for r in streaks_from_days(df).collect()
    }
    expect = {}
    for u, days in users:
        ds = sorted(days)
        runs, cur = [], 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        expect[u] = (len(ds), len(runs), max(runs))
    assert got == expect


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.integers(min_value=0, max_value=15),  # day_idx
            st.integers(min_value=1, max_value=9),  # n_events
            st.integers(min_value=0, max_value=3),  # n_purchases
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_pit_features_no_leakage(cells):
    """The point-in-time kernel must equal a brute-force recount on
    arbitrary daily grids: features are sums over days [d−7, d−1] ONLY
    (never the current day — the leakage contract), and the label is
    the purchases at EXACTLY day d+1 (0 when absent, never the next
    observed day across a gap)."""
    import datetime as dt

    from finance_data_ingestion_pipeline_with_kafka_spark.operators.training import (
        pit_features_from_daily,
    )

    spark = get_test_spark()
    base = dt.date(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(days=d), d, e, min(p, e))
        for u, d, e, p in cells
    ]
    daily = spark.createDataFrame(
        rows, "user_id long, day date, day_idx int, n_events long, n_purchases long"
    )
    got = {
        (r["user_id"], r["day_idx"]): (
            r["f_events_prev7"],
            r["f_purchases_prev7"],
            r["label_next_day_purchases"],
        )
        for r in pit_features_from_daily(daily).collect()
    }
    grid = {(u, d): (e, min(p, e)) for u, d, e, p in cells}
    for (u, d), _ in grid.items():
        fe = sum(grid.get((u, k), (0, 0))[0] for k in range(d - 7, d))
        fp = sum(grid.get((u, k), (0, 0))[1] for k in range(d - 7, d))
        label = grid.get((u, d + 1), (0, 0))[1]
        assert got[(u, d)] == (fe, fp, label), (u, d)
    assert len(got) == len(grid)


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(EVENT, min_size=0, max_size=40),
    cut=st.integers(min_value=0, max_value=40),
)
def test_asof_fold_matches_bruteforce_and_is_incremental(rows, cut):
    """The streaming as-of kernel (``asof_fold``) on an arbitrary tagged
    series equals per-trade brute force (latest right row at-or-before,
    max-id tiebreak), and folding in two chunks with carried state
    equals one global fold — the micro-batch boundary invariant."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        asof_fold,
    )

    tagged = sorted(
        (ts, 0 if kind == "click" else 1, eid, float(v))
        for eid, (_u, ts, kind, v) in enumerate(rows)
    )
    _, _, got = asof_fold(None, None, tagged)
    # brute force per trade
    rights = [(ts, eid, v) for ts, s, eid, v in tagged if s == 0]
    want = []
    for ts, s, eid, v in tagged:
        if s != 1:
            continue
        prior = [(rts, rid, rv) for rts, rid, rv in rights if rts <= ts]
        if prior:
            _rts, _rid, rv = max(prior)
            want.append((ts, eid, v, _rts, rv))
        else:
            want.append((ts, eid, v, None, None))
    assert got == want
    # incremental: split at an arbitrary point, carry state across
    k = min(cut, len(tagged))
    cts, cv, r1 = asof_fold(None, None, tagged[:k])
    _, _, r2 = asof_fold(cts, cv, tagged[k:])
    assert r1 + r2 == want


SURVIVOR_ROW = st.tuples(
    st.integers(min_value=0, max_value=5),   # cluster id
    st.sampled_from([0.1, 0.25, 0.5, 0.5, 0.9, 1.0]),  # quality (dup values force ties)
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(SURVIVOR_ROW, min_size=1, max_size=40))
def test_quality_keeper_selection_is_argmax_min_id(rows):
    """quality_keeper_selection invariants against a Python reference:
    exactly one keep per cluster, best = smallest doc_id among the
    maximum-quality members, best_doc_id constant within a cluster."""
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.dedup import (
        quality_keeper_selection,
    )

    spark = get_test_spark()
    data = [(i, int(c), float(q)) for i, (c, q) in enumerate(rows)]
    df = spark.createDataFrame(data, ["doc_id", "cluster_keeper", "quality"])
    got = quality_keeper_selection(df).collect()

    # Python reference
    by_cluster: dict[int, list[tuple[int, float]]] = {}
    for i, c, q in data:
        by_cluster.setdefault(c, []).append((i, q))
    want_best = {
        c: min(i for i, q in members if q == max(q2 for _, q2 in members))
        for c, members in by_cluster.items()
    }

    assert len(got) == len(data)
    keeps_per_cluster: dict[int, int] = {}
    for r in got:
        assert r["best_doc_id"] == want_best[r["cluster_keeper"]], r
        assert r["keep"] == (r["doc_id"] == r["best_doc_id"])
        keeps_per_cluster[r["cluster_keeper"]] = keeps_per_cluster.get(
            r["cluster_keeper"], 0
        ) + (1 if r["keep"] else 0)
    assert all(v == 1 for v in keeps_per_cluster.values()), keeps_per_cluster


NEAREST_EVENT = st.tuples(
    st.integers(min_value=1, max_value=4),  # user_id
    st.integers(min_value=0, max_value=4000),  # ts seconds (tol = 1800 s bites)
    st.sampled_from(["purchase", "click"]),
    st.integers(min_value=1, max_value=100),  # value
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(NEAREST_EVENT, min_size=1, max_size=40))
def test_asof_nearest_matches_bruteforce(rows, monkeypatch):
    """asof_join_nearest vs an exhaustive per-purchase reference: nearest
    |dt| within the ±30-minute tolerance, ties preferring backward; at
    equal click ts the backward side picks the max event_id and the
    forward side the min (the oracle's max_by/min_by dedup)."""
    import datetime as _dt

    from finance_data_ingestion_pipeline_with_kafka_spark.operators import timeseries
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.timeseries import (
        _NEAREST_TOL_US,
        asof_join_nearest,
    )

    spark = get_test_spark()
    base = _dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + _dt.timedelta(seconds=t), et, float(v))
        for i, (u, t, et, v) in enumerate(rows)
    ]
    crafted = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    monkeypatch.setattr(
        timeseries, "load_table", lambda spark, sf_dir, name: crafted
    )
    got = {
        r["event_id"]: (r["nearest_click_ts"], r["nearest_click_value"], r["direction"])
        for r in asof_join_nearest(spark, "unused").collect()
    }

    tol_s = _NEAREST_TOL_US / 1_000_000
    purchases = [d for d in data if d[3] == "purchase"]
    clicks = [d for d in data if d[3] == "click"]
    assert set(got) == {p[0] for p in purchases}
    for pid, pu, pts, _, _ in purchases:
        back = [c for c in clicks if c[1] == pu and c[2] <= pts
                and (pts - c[2]).total_seconds() <= tol_s]
        fwd = [c for c in clicks if c[1] == pu and c[2] > pts
               and (c[2] - pts).total_seconds() <= tol_s]
        bbest = max(back, key=lambda c: (c[2], c[0])) if back else None
        fbest = min(fwd, key=lambda c: (c[2], c[0])) if fwd else None
        bdt = (pts - bbest[2]).total_seconds() if bbest else None
        fdt = (fbest[2] - pts).total_seconds() if fbest else None
        if bdt is not None and (fdt is None or bdt <= fdt):
            want = (bbest[2], bbest[4], "backward")
        elif fdt is not None:
            want = (fbest[2], fbest[4], "forward")
        else:
            want = (None, None, None)
        assert got[pid] == want, (pid, got[pid], want)


@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    prices=st.lists(
        st.one_of(
            st.none(),
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
        ),
        max_size=60,
    ),
    cut=st.integers(min_value=0, max_value=60),
)
def test_drawdown_fold_split_invariance_and_bruteforce(prices, cut):
    """Two laws of the shared TWS/batch drawdown fold (`drawdown_fold`,
    `streaming/stateful.py`): (1) the state-carry law — folding a tape
    in two chunks through the carried (peak, mdd, n) state equals one
    global fold, for ANY cut point (this is exactly what the
    `drawdown_fold_series` catalog query's midpoint state split relies
    on); (2) brute-force equivalence — the folded (peak, mdd, n) equals
    the direct order-statistic definition max(prefix) / max over ticks
    of (running_peak - x)/running_peak / count(valid)."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        drawdown_fold,
    )

    init = (float("-inf"), 0.0, 0)
    cut = min(cut, len(prices))
    s1 = drawdown_fold(*init, prices[:cut])
    split = drawdown_fold(*s1, prices[cut:])
    whole = drawdown_fold(*init, prices)
    assert split == whole  # bit-exact: same IEEE ops in the same order

    peak, mdd, n = init
    for x in prices:
        if x is None:
            continue
        peak = max(peak, float(x))
        if peak > 0:
            mdd = max(mdd, (peak - float(x)) / peak)
        n += 1
    assert whole == (peak, mdd, n)


@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    ticks=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3 * 86_400_000 - 1),  # ts_ms, 3 days
            st.floats(min_value=0.01, max_value=1e4, allow_nan=False),
        ),
        max_size=40,
    ),
    cut=st.integers(min_value=0, max_value=40),
)
def test_rv_bipower_fold_split_invariance(ticks, cut):
    """State-carry law of the daily RV/bipower fold (`rv_bipower_fold`,
    `streaming/stateful.py`), the law the `bipower_fold_series` catalog
    query's midpoint state split exercises on the real tape: for ANY
    cut of an event-time-ordered tape, (a) the carried state after the
    second chunk equals the single global fold's state bit-exactly,
    and (b) the finalized-day emissions (day_final=True) concatenate
    identically — a day closed before the cut never reopens or changes.
    The split run's extra mid-tape running row is the documented
    update-mode emission, not drift: the LAST running row still matches
    the global fold's."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        rv_bipower_fold,
    )

    ticks = sorted(ticks, key=lambda t: t[0])
    empty = (None, None, None, 0, 0, 0, 0)
    cut = min(cut, len(ticks))

    s1, rows1 = rv_bipower_fold(empty, ticks[:cut])
    s2, rows2 = rv_bipower_fold(s1, ticks[cut:])
    s_whole, rows_whole = rv_bipower_fold(empty, ticks)

    assert s2 == s_whole
    final_split = [r for r in rows1 + rows2 if r["day_final"]]
    final_whole = [r for r in rows_whole if r["day_final"]]
    assert final_split == final_whole
    if ticks:
        # both runs end on the same open-day running row
        assert (rows1 + rows2)[-1] == rows_whole[-1]
