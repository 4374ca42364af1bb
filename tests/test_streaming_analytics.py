"""Streaming analytics tests (SURVEY §2.9 T6–T10, §2.3 J8–J9): windowed
aggregations, stream-static and stream-stream joins, stateful position
tracking — all via file replay + availableNow, compared against the same
expressions computed in batch where applicable.
"""

import json

import pytest
from pyspark.sql import functions as F

from finance_data_ingestion_pipeline_with_kafka_spark.sources import (
    kafka_shaped_file_stream,
    write_json_fixture,
)
from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
    finnhub_pipeline,
)
from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
    start_memory_sink,
)
from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
    running_position,
)
from finance_data_ingestion_pipeline_with_kafka_spark.streaming.windows import (
    session_bursts,
    sliding_momentum,
    stream_static_enrich,
    stream_stream_join,
    tumbling_bars,
)

BASE_MS = 1704205200000  # 2024-01-02T14:20:00Z


def fh_msg(symbol="AAPL", offset_s=0, p=100.0, v=10, c=None):
    return json.dumps(
        {"c": c or [], "p": p, "s": symbol, "t": BASE_MS + offset_s * 1000, "v": v}
    )


TRADES = [
    fh_msg("AAPL", 0, 100.0, 10),
    fh_msg("AAPL", 10, 101.0, 5),
    fh_msg("AAPL", 59, 99.0, 20),  # same minute
    fh_msg("AAPL", 65, 102.0, 7),  # next minute
    fh_msg("MSFT", 5, 300.0, 3),
    fh_msg("MSFT", 200, 301.0, 4),  # separate session (>30s gap)
]


@pytest.fixture
def trade_stream(spark, tmp_path):
    # dedup_watermark=None: the window/stateful operators under test attach
    # their own watermark, and Spark disallows redefining one mid-stream.
    src = tmp_path / "trades"
    write_json_fixture(str(src), TRADES)
    return finnhub_pipeline(kafka_shaped_file_stream(spark, str(src)), dedup_watermark=None)


def drain(spark, df, name, mode="append"):
    q = start_memory_sink(df, name, output_mode=mode, available_now=True)
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_bars_streaming(spark, trade_stream):
    out = drain(spark, tumbling_bars(trade_stream), "bars_t", mode="update").collect()
    bars = {(r["symbol"], r["bar_start"].isoformat()): r for r in out}
    a0 = bars[("AAPL", "2024-01-02T14:20:00")]
    assert (a0["open"], a0["high"], a0["low"], a0["close"]) == (100.0, 101.0, 99.0, 99.0)
    assert a0["volume"] == 35 and a0["n_trades"] == 3
    a1 = bars[("AAPL", "2024-01-02T14:21:00")]
    assert a1["open"] == a1["close"] == 102.0 and a1["n_trades"] == 1


def test_session_bursts(spark, tmp_path):
    # Session windows only emit in append mode once the watermark passes
    # the session end: feed a far-future sentinel in a second micro-batch
    # so the no-data batch flushes the real sessions.
    src = tmp_path / "sess_trades"
    write_json_fixture(str(src), TRADES, "f1.json")
    write_json_fixture(str(src), [fh_msg("ZZZZ", 4000)], "f2.json")
    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark, session_bursts(stream, watermark="1 second"), "sess_t", mode="append"
    ).collect()
    out = [r for r in out if r["symbol"] != "ZZZZ"]
    msft = sorted(
        [r for r in out if r["symbol"] == "MSFT"], key=lambda r: r["session_start"]
    )
    assert len(msft) == 2  # 195 s apart > 30 s gap → two bursts
    aapl = sorted(
        [r for r in out if r["symbol"] == "AAPL"], key=lambda r: r["session_start"]
    )
    # AAPL events at +0,+10,+59,+65 s: the 49 s gap (10→59) exceeds the
    # 30 s session gap → two bursts of 2 trades each
    assert [r["n_trades"] for r in aapl] == [2, 2]


def test_sliding_momentum_matches_batch(spark, trade_stream, tmp_path):
    out = drain(spark, sliding_momentum(trade_stream), "mom_t", mode="update")
    # same expression over the same data in batch mode
    src = tmp_path / "trades_b"
    write_json_fixture(str(src), TRADES)
    batch_raw = spark.read.text(str(src)).select(F.col("value").cast("string").alias("value"))
    batch = sliding_momentum(finnhub_pipeline(batch_raw))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_static_enrich(spark, trade_stream):
    dim = spark.createDataFrame(
        [("AAPL", "Apple Inc", "tech"), ("MSFT", "Microsoft", "tech")],
        ["symbol", "name", "sector"],
    )
    out = drain(spark, stream_static_enrich(trade_stream, dim), "enrich_t")
    rows = out.collect()
    assert len(rows) == len(TRADES)
    assert all(r["sector"] == "tech" for r in rows)


def test_stream_stream_join(spark, tmp_path):
    bar_msgs = [
        json.dumps(
            {
                "Datetime": "2024-01-02T14:20:00",
                "Open": 100.0,
                "High": 101.0,
                "Low": 99.0,
                "Close": 100.5,
                "Adj Close": 100.5,
                "Volume": 50,
                "Dividends": 0.0,
                "Stock Splits": 0.0,
                "ticker": "AAPL",
            }
        )
    ]
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        yfinance_pipeline,
    )

    bsrc, tsrc = tmp_path / "bars_src", tmp_path / "trades_src"
    write_json_fixture(str(bsrc), bar_msgs)
    write_json_fixture(str(tsrc), TRADES)
    bars = yfinance_pipeline(kafka_shaped_file_stream(spark, str(bsrc)))
    trades = finnhub_pipeline(kafka_shaped_file_stream(spark, str(tsrc)), dedup_watermark=None)
    joined = stream_stream_join(bars, trades)
    out = drain(spark, joined, "ss_join").collect()
    # AAPL trades at +0, +10, +59 s fall inside the 14:20 bar's minute
    assert len(out) == 3
    assert all(r["symbol"] == "AAPL" and r["bar_close"] == pytest.approx(100.5) for r in out)


def test_running_position_stateful(spark, tmp_path):
    fills_src = tmp_path / "fills"
    write_json_fixture(str(fills_src), TRADES)
    fills = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(fills_src)), dedup_watermark=None
    ).withColumn(
        "side", F.when(F.col("last_price") < 100.5, F.lit(1)).otherwise(F.lit(-1))
    )
    out = drain(spark, running_position(fills), "pos_t", mode="update")
    pos = {r["symbol"]: r for r in out.collect()}
    # AAPL: +10 (100.0 buy) -5 (101.0 sell) +20 (99.0 buy) -7 (102.0 sell) = 18
    assert pos["AAPL"]["position"] == 18
    assert pos["AAPL"]["n_fills"] == 4
    # MSFT: both above 100.5 → sells: -3 -4 = -7
    assert pos["MSFT"]["position"] == -7
    cash = 300.0 * 3 + 301.0 * 4
    assert pos["MSFT"]["cash_flow"] == pytest.approx(cash)


def test_running_position_matches_position_ledger_semantics(spark, tmp_path):
    """The streaming stateful fold and the batch `position_ledger`
    catalog query (driver-hash-verified against DuckDB) compute the same
    ledger: position = Σ side·qty, cash_flow = Σ −side·price·qty. Feed
    the SAME fills through both forms and assert equality — the batch
    side here is the identical groupBy-agg expression the catalog query
    registers, so the driver's oracle gate transitively covers the
    arithmetic the streaming state carries."""
    from finance_data_ingestion_pipeline_with_kafka_spark.functions.core import dsum

    fills_src = tmp_path / "fills_parity"
    write_json_fixture(str(fills_src), TRADES)
    side_expr = F.when(F.col("last_price") < 100.5, F.lit(1)).otherwise(F.lit(-1))
    fills = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(fills_src)), dedup_watermark=None
    ).withColumn("side", side_expr)
    out = drain(spark, running_position(fills), "pos_parity_t", mode="update")
    streaming = {
        r["symbol"]: (r["position"], r["cash_flow"], r["n_fills"])
        for r in out.collect()
    }

    batch_raw = spark.read.text(str(fills_src)).select(
        F.col("value").cast("string").alias("value")
    )
    batch = (
        finnhub_pipeline(batch_raw)
        .withColumn("side", side_expr)
        .groupBy("symbol")
        .agg(
            F.sum(F.col("side") * F.col("volume")).cast("bigint").alias("position"),
            dsum(-F.col("side") * F.col("last_price") * F.col("volume")).alias(
                "cash_flow"
            ),
            F.count(F.lit(1)).alias("n_fills"),
        )
        .collect()
    )
    want = {r["symbol"]: (r["position"], r["cash_flow"], r["n_fills"]) for r in batch}
    assert set(streaming) == set(want)
    for sym in want:
        assert streaming[sym][0] == want[sym][0], sym
        assert streaming[sym][1] == pytest.approx(want[sym][1]), sym
        assert streaming[sym][2] == want[sym][2], sym


def test_session_fold_shares_streaming_sweep_merge(spark, sf_dir):
    """The batch `session_fold_sessions` catalog query must execute the
    SAME `sweep_merge_sessions` fold the streaming sessionizer runs —
    shared implementation, not a lookalike. Pinned structurally (both
    call sites import one function) and behaviorally: the fold over a
    full history equals the streaming sessionizer's eager+timeout output
    shape (covered by the session_stream parity tests above)."""
    import finance_data_ingestion_pipeline_with_kafka_spark.operators.timeseries as ts_mod
    import inspect

    src = inspect.getsource(ts_mod.session_fold_sessions.__wrapped__ if hasattr(
        ts_mod.session_fold_sessions, "__wrapped__") else ts_mod.session_fold_sessions)
    assert "sweep_merge_sessions" in src
    import finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful as st_mod

    upd_src = inspect.getsource(st_mod._session_update_factory)
    assert "sweep_merge_sessions" in upd_src


def test_late_data_beyond_watermark_dropped(spark, tmp_path):
    """T6: an event older than the advanced watermark must NOT create or
    update a window (the documented divergence from the reference's
    unbounded producer dedup: beyond-watermark late data is dropped)."""
    import os as _os
    import time as _time

    src = tmp_path / "late_trades"
    # batch 1: normal trades -> eviction watermark advances to max(t) - 1s.
    # batch 2: benign current event -> the ADMISSION (late-events) filter
    #   now also carries the advanced watermark (Spark lags it one batch
    #   behind eviction so same-batch stragglers aren't dropped).
    # batch 3: an event a full hour older than the watermark -> dropped.
    f1 = write_json_fixture(str(src), [fh_msg("AAPL", 0), fh_msg("AAPL", 3600)], "f1.json")
    f2 = write_json_fixture(str(src), [fh_msg("AAPL", 3610)], "f2.json")
    f3 = write_json_fixture(str(src), [fh_msg("AAPL", -3600, p=555.0)], "f3.json")
    now = _time.time()
    for i, f in enumerate([f1, f2, f3]):  # file source orders by mtime
        _os.utime(f, (now - 60 + 20 * i, now - 60 + 20 * i))
    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark, tumbling_bars(stream, watermark="1 second"), "late_t", mode="append"
    ).collect()
    bars = {r["bar_start"].isoformat() for r in out}
    # the -3600s event's bar (13:20) must be absent; the +0s bar must exist
    assert "2024-01-02T14:20:00" in bars
    assert "2024-01-02T13:20:00" not in bars


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """T3: restarting a query on the SAME checkpoint resumes from stored
    offsets — already-processed files are not re-read (exactly-once source
    accounting, independent of the idempotent sink)."""
    import os

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        finnhub_pipeline,
    )

    src, sink, cp = tmp_path / "cp_src", str(tmp_path / "cp_sink"), str(tmp_path / "cp_cp")
    write_json_fixture(str(src), [fh_msg("AAPL", i) for i in range(5)], "f1.json")

    def run_plain_append():
        # plain append sink (NO anti-join) so any re-read would duplicate
        raw = kafka_shaped_file_stream(spark, str(src))
        q = (
            finnhub_pipeline(raw, dedup_watermark=None)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_plain_append()
    assert spark.read.parquet(sink).count() == 5
    # second run, same checkpoint, no new data -> nothing reprocessed
    run_plain_append()
    assert spark.read.parquet(sink).count() == 5
    # new file arrives -> only its rows are appended
    write_json_fixture(str(src), [fh_msg("MSFT", 10)], "f2.json")
    run_plain_append()
    out = spark.read.parquet(sink)
    assert out.count() == 6
    assert out.filter("symbol = 'MSFT'").count() == 1


def test_stream_stream_left_outer_join(spark, tmp_path):
    """J8 outer: a bar with NO matching trades must still be emitted,
    null-padded, once the watermark passes its join horizon."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        yfinance_pipeline,
    )

    def bar(ticker, dt_iso, close):
        return json.dumps(
            {
                "Datetime": dt_iso,
                "Open": close,
                "High": close,
                "Low": close,
                "Close": close,
                "Adj Close": close,
                "Volume": 50,
                "Dividends": 0.0,
                "Stock Splits": 0.0,
                "ticker": ticker,
            }
        )

    bsrc, tsrc = tmp_path / "ob_src", tmp_path / "ot_src"
    # GOOG bar at 14:20 has no trades at all; a later bar advances the
    # bar-side watermark far enough to close the 14:20 join window.
    write_json_fixture(str(bsrc), [bar("GOOG", "2024-01-02T14:20:00", 55.0)], "b1.json")
    f2 = write_json_fixture(str(bsrc), [bar("GOOG", "2024-01-02T15:30:00", 56.0)], "b2.json")
    # trades exist only for AAPL, and also advance the trade-side watermark
    write_json_fixture(str(tsrc), [fh_msg("AAPL", 0, 100.0, 1)], "t1.json")
    f4 = write_json_fixture(str(tsrc), [fh_msg("AAPL", 4800, 100.0, 1)], "t2.json")
    now = _time.time()
    for i, f in enumerate([f2, f4]):  # late files in a later micro-batch
        _os.utime(f, (now + 5 + i, now + 5 + i))
    bars = yfinance_pipeline(
        kafka_shaped_file_stream(spark, str(bsrc), max_files_per_trigger=1)
    )
    trades = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(tsrc), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    joined = stream_stream_join(bars, trades, how="left_outer")
    out = drain(spark, joined, "ss_outer").collect()
    unmatched = [r for r in out if r["trade_time"] is None]
    assert any(
        r["symbol"] == "GOOG" and r["bar_close"] == pytest.approx(55.0) for r in unmatched
    )



def test_ewma_stream_stateful_across_batches(spark, tmp_path):
    """Streaming EWMA: event-time-ordered recursive fold per symbol, and
    the state must CARRY across micro-batches (batch 2 continues from
    batch 1's level, never restarts)."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        EWMA_ALPHA,
        ewma_stream,
    )

    src = tmp_path / "ticks"
    f1 = write_json_fixture(
        str(src), [fh_msg("AAPL", 0, 100.0), fh_msg("AAPL", 10, 104.0)], "f1.json"
    )
    f2 = write_json_fixture(str(src), [fh_msg("AAPL", 20, 96.0)], "f2.json")
    now = _time.time()
    for i, f in enumerate([f1, f2]):  # file source orders by mtime
        _os.utime(f, (now - 60 + 20 * i, now - 60 + 20 * i))
    ticks = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(spark, ewma_stream(ticks), "ewma_t", mode="update").collect()
    # update mode: one row per (symbol, batch); the LAST AAPL row carries
    # the full three-tick fold
    final = max((r for r in out if r["symbol"] == "AAPL"), key=lambda r: r["n_obs"])
    # seed y1 = α·x1, matching the batch operator's truncated Horner
    # (every finite prefix of the two now agrees, not just the fixed point)
    y = EWMA_ALPHA * 100.0
    for x in (104.0, 96.0):
        y = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * y
    assert final["n_obs"] == 3
    assert final["ewma"] == pytest.approx(y)
    # and an intermediate row must exist proving per-batch emission
    assert any(r["symbol"] == "AAPL" and r["n_obs"] == 2 for r in out)


def test_session_stream_parity_with_batch_session_window(spark, tmp_path):
    """The stateful sessionizer (EventTimeTimeout) must produce the same
    sessions as the built-in batch session_window over the same data."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        session_stream,
    )

    src = tmp_path / "sess_state"
    f1 = write_json_fixture(str(src), TRADES, "f1.json")
    # far-future sentinel advances the watermark past every real
    # session's end+gap so the event-time timeouts fire
    f2 = write_json_fixture(str(src), [fh_msg("ZZZZ", 4000)], "f2.json")
    now = _time.time()
    for i, f in enumerate([f1, f2]):
        _os.utime(f, (now - 60 + 20 * i, now - 60 + 20 * i))
    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark,
        session_stream(stream, gap="30 seconds", watermark="1 second"),
        "sess_state_t",
        mode="append",
    ).collect()
    got = {
        (r["symbol"], r["session_start"].isoformat(), r["n_events"], r["sum_value"])
        for r in out
        if r["symbol"] != "ZZZZ"
    }

    # batch twin: built-in session_window over the same fixture rows
    src_b = tmp_path / "sess_state_b"
    write_json_fixture(str(src_b), TRADES)
    batch_raw = spark.read.text(str(src_b)).select(
        F.col("value").cast("string").alias("value")
    )
    batch = (
        finnhub_pipeline(batch_raw)
        .groupBy("symbol", F.session_window("datetime", "30 seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("last_price").alias("sum_value"))
        .select(
            "symbol",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .collect()
    )
    want = {
        (r["symbol"], r["session_start"].isoformat(), r["n_events"], r["sum_value"])
        for r in batch
    }
    assert got == want and len(got) >= 4


def test_session_stream_timeout_evicts_state(spark, tmp_path):
    """Timeout-driven eviction: AAPL gets data ONLY in micro-batch 1; its
    open session must still be emitted — by the EventTimeTimeout firing
    once batch 2's sentinel (a different key) advances the watermark —
    and must be emitted exactly once (state removed, not re-fired)."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        session_stream,
    )

    src = tmp_path / "sess_evict"
    f1 = write_json_fixture(
        str(src), [fh_msg("AAPL", 0, 100.0), fh_msg("AAPL", 10, 101.0)], "f1.json"
    )
    f2 = write_json_fixture(str(src), [fh_msg("ZZZZ", 4000)], "f2.json")
    f3 = write_json_fixture(str(src), [fh_msg("ZZZZ", 8000)], "f3.json")
    now = _time.time()
    for i, f in enumerate([f1, f2, f3]):
        _os.utime(f, (now - 60 + 15 * i, now - 60 + 15 * i))
    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark,
        session_stream(stream, gap="30 seconds", watermark="1 second"),
        "sess_evict_t",
        mode="append",
    ).collect()
    aapl = [r for r in out if r["symbol"] == "AAPL"]
    # one session, emitted once, despite AAPL never appearing after batch 1
    assert len(aapl) == 1
    assert aapl[0]["n_events"] == 2 and aapl[0]["sum_value"] == pytest.approx(201.0)
    assert aapl[0]["session_start"].isoformat() == "2024-01-02T14:20:00"
    assert aapl[0]["session_end"].isoformat() == "2024-01-02T14:20:10"


def test_session_stream_late_tick_extends_never_regresses(spark, tmp_path):
    """Out-of-order CROSS-BATCH parity: a late-but-within-watermark tick
    older than the open session's end must EXTEND the session (start =
    min, end = max) — never move session_end backward and never split
    the session. Repro scenario: t=100 (batch 1), late t=95 (batch 2),
    t=126 (batch 3), gap=30s, watermark=60s → batch session_window says
    ONE session [t95 .. t126, n=3]."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        session_stream,
    )

    rows = [
        ("f1.json", [fh_msg("AAPL", 100, 10.0)]),
        ("f2.json", [fh_msg("AAPL", 95, 20.0)]),  # late, within watermark
        ("f3.json", [fh_msg("AAPL", 126, 30.0)]),
        ("f4.json", [fh_msg("ZZZZ", 4000)]),  # watermark sentinel
    ]
    src = tmp_path / "sess_late"
    files = [write_json_fixture(str(src), msgs, name) for name, msgs in rows]
    now = _time.time()
    for i, f in enumerate(files):  # file source orders by mtime
        _os.utime(f, (now - 80 + 15 * i, now - 80 + 15 * i))
    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark,
        session_stream(stream, gap="30 seconds", watermark="60 seconds"),
        "sess_late_t",
        mode="append",
    ).collect()
    aapl = [r for r in out if r["symbol"] == "AAPL"]
    # every emitted session is a well-formed interval
    assert all(r["session_end"] >= r["session_start"] for r in aapl)
    # exactly ONE session, spanning the late tick through the last tick
    assert len(aapl) == 1
    got = aapl[0]
    assert got["session_start"].isoformat() == "2024-01-02T14:21:35"
    assert got["session_end"].isoformat() == "2024-01-02T14:22:06"
    assert got["n_events"] == 3
    assert got["sum_value"] == pytest.approx(60.0)

    # batch twin on the same rows agrees
    src_b = tmp_path / "sess_late_b"
    write_json_fixture(
        str(src_b),
        [fh_msg("AAPL", 100, 10.0), fh_msg("AAPL", 95, 20.0), fh_msg("AAPL", 126, 30.0)],
    )
    batch_raw = spark.read.text(str(src_b)).select(
        F.col("value").cast("string").alias("value")
    )
    batch = (
        finnhub_pipeline(batch_raw)
        .groupBy("symbol", F.session_window("datetime", "30 seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("last_price").alias("sum_value"))
        .select(
            "symbol",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .collect()
    )
    assert len(batch) == 1
    assert batch[0]["session_start"] == got["session_start"]
    assert batch[0]["n_events"] == got["n_events"]
    assert batch[0]["sum_value"] == pytest.approx(got["sum_value"])


def test_session_stream_pre_gap_straggler_forms_own_session(spark, tmp_path):
    """A within-watermark straggler more than `gap` OLDER than the open
    session's start is a separate, earlier session (batch semantics) —
    it must not be folded into the open session."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        session_stream,
    )

    rows = [
        ("f1.json", [fh_msg("AAPL", 100, 10.0)]),
        ("f2.json", [fh_msg("AAPL", 20, 20.0)]),  # 80s early: > gap, in watermark
        ("f3.json", [fh_msg("ZZZZ", 4000)]),  # watermark sentinel
    ]
    src = tmp_path / "sess_strag"
    files = [write_json_fixture(str(src), msgs, name) for name, msgs in rows]
    now = _time.time()
    for i, f in enumerate(files):
        _os.utime(f, (now - 80 + 15 * i, now - 80 + 15 * i))
    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark,
        session_stream(stream, gap="30 seconds", watermark="120 seconds"),
        "sess_strag_t",
        mode="append",
    ).collect()
    aapl = sorted(
        (r for r in out if r["symbol"] == "AAPL"), key=lambda r: r["session_start"]
    )
    assert [
        (r["session_start"].isoformat(), r["session_end"].isoformat(), r["n_events"])
        for r in aapl
    ] == [
        ("2024-01-02T14:20:20", "2024-01-02T14:20:20", 1),
        ("2024-01-02T14:21:40", "2024-01-02T14:21:40", 1),
    ]


def test_ewma_stream_late_tick_folds_in_arrival_order(spark, tmp_path):
    """Pins the documented ordering caveat: a late-but-within-watermark
    tick arriving in a LATER micro-batch folds after newer data (EWMA
    state is order-sensitive and sorts only within each batch)."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        EWMA_ALPHA,
        ewma_stream,
    )

    src = tmp_path / "ticks_late"
    f1 = write_json_fixture(
        str(src), [fh_msg("AAPL", 0, 100.0), fh_msg("AAPL", 20, 104.0)], "f1.json"
    )
    f2 = write_json_fixture(str(src), [fh_msg("AAPL", 10, 96.0)], "f2.json")  # late
    now = _time.time()
    for i, f in enumerate([f1, f2]):
        _os.utime(f, (now - 60 + 20 * i, now - 60 + 20 * i))
    ticks = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(spark, ewma_stream(ticks), "ewma_late_t", mode="update").collect()
    final = max((r for r in out if r["symbol"] == "AAPL"), key=lambda r: r["n_obs"])
    # arrival order 100, 104, then the late 96 — NOT event-time order
    y = EWMA_ALPHA * 100.0
    for x in (104.0, 96.0):
        y = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * y
    assert final["n_obs"] == 3
    assert final["ewma"] == pytest.approx(y)


def test_transform_with_state_boundary(spark, tmp_path):
    """Spark 4 transformWithStateInPandas (the applyInPandasWithState
    successor): where the protobuf runtime exists the per-symbol
    drawdown processor must match the hand-computed fold; where it does
    not (this sandbox has no `protobuf` package), the query must still
    reach Spark's TWS execution and fail ONLY with the state-runner
    initialization error — proving the operator wiring (processor,
    schemas, RocksDB provider conf) is complete up to the runtime
    boundary. Same env-gate pattern as the Kafka/Cassandra live paths."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        max_drawdown_stream,
        tws_runtime_available,
    )

    src = tmp_path / "dd_ticks"
    write_json_fixture(
        str(src),
        [fh_msg("AAPL", 0, 100.0), fh_msg("AAPL", 10, 120.0), fh_msg("AAPL", 20, 90.0)],
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ticks = finnhub_pipeline(
            kafka_shaped_file_stream(spark, str(src)), dedup_watermark=None
        )
        out = max_drawdown_stream(ticks)
        if tws_runtime_available():
            rows = drain(spark, out, "tws_dd", mode="update").collect()
            final = max(rows, key=lambda r: r["n_obs"])
            assert final["peak"] == pytest.approx(120.0)
            assert final["max_drawdown"] == pytest.approx(30.0 / 120.0)
            assert final["n_obs"] == 3
        else:
            q = (
                out.writeStream.format("memory")
                .queryName("tws_dd_gate")
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "cp_tws"))
                .trigger(availableNow=True)
                .start()
            )
            with _pytest.raises(StreamingQueryException) as ex:
                q.awaitTermination(120)
                q.processAllAvailable()
            msg = str(ex.value)
            # the spec must die at the Python state-runner handshake —
            # any OTHER failure (analysis error, schema mismatch, missing
            # provider) means the wiring itself is broken
            assert (
                "STREAMING_PYTHON_RUNNER_INITIALIZATION" in msg
                or "TransformWithStateInPySpark driver worker exited" in msg
            ), msg
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_upsert_snapshot_sink(spark, tmp_path):
    """Latest-per-key snapshot sink (streaming MERGE shape): later event
    times replace, OLDER late arrivals never resurrect, and a full
    replay converges to the identical snapshot (order-independent
    max_by election)."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
        start_upsert_snapshot_sink,
    )

    src = tmp_path / "upsert_src"
    f1 = write_json_fixture(
        str(src),
        [fh_msg("AAPL", 0, 100.0), fh_msg("MSFT", 1, 200.0)],
        "f1.json",
    )
    # batch 2: AAPL newer (replaces), MSFT OLDER-than-snapshot late row
    # (must NOT replace — ts 1 > ts 0 stays)... craft: MSFT late at -10s
    f2 = write_json_fixture(
        str(src),
        [fh_msg("AAPL", 20, 110.0), fh_msg("MSFT", -10, 150.0)],
        "f2.json",
    )
    now = _time.time()
    for i, f in enumerate([f1, f2]):
        _os.utime(f, (now - 60 + 20 * i, now - 60 + 20 * i))

    def run(tag):
        stream = finnhub_pipeline(
            kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
            dedup_watermark=None,
        )
        q = start_upsert_snapshot_sink(
            stream,
            str(tmp_path / f"snap_{tag}"),
            str(tmp_path / f"cp_{tag}"),
            key="symbol",
            ts_col="datetime",
        )
        q.awaitTermination(120)
        return {
            r["symbol"]: r
            for r in spark.read.parquet(str(tmp_path / f"snap_{tag}")).collect()
        }

    snap = run("a")
    assert set(snap) == {"AAPL", "MSFT"}  # one row per key
    assert snap["AAPL"]["last_price"] == pytest.approx(110.0)  # replaced
    assert snap["MSFT"]["last_price"] == pytest.approx(200.0)  # old row lost
    # replay from scratch (fresh checkpoint+sink) converges identically
    snap2 = run("b")
    assert {k: v["last_price"] for k, v in snap2.items()} == {
        k: v["last_price"] for k, v in snap.items()
    }


def test_upsert_snapshot_overwrites_only_touched_buckets(spark, tmp_path):
    """A batch that touches one key's bucket rewrites only that bucket:
    the other key's row survives (dynamic partition overwrite, set per
    write), and the session's partitionOverwriteMode is never written."""
    import datetime as dt

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
        SNAPSHOT_BUCKET_COL,
        foreach_batch_upsert_snapshot,
    )

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf_key)
    sink = str(tmp_path / "snap")
    write = foreach_batch_upsert_snapshot(sink, key="symbol", ts_col="datetime")

    def batch(*rows):
        return spark.createDataFrame(
            list(rows), "symbol string, datetime timestamp, last_price double"
        )

    t0 = dt.datetime(2024, 1, 2, 9, 30)
    write(batch(("AAPL", t0, 1.0), ("MSFT", t0, 2.0)), 0)
    write(batch(("AAPL", t0 + dt.timedelta(seconds=5), 3.0)), 1)
    snap = spark.read.parquet(sink)
    assert snap.select(SNAPSHOT_BUCKET_COL).distinct().count() == 2  # two buckets
    assert {r.symbol: r.last_price for r in snap.collect()} == {"AAPL": 3.0, "MSFT": 2.0}
    assert spark.conf.get(conf_key) == before


def test_ewma_stream_ordered_matches_event_time_fold(spark, tmp_path):
    """The buffered variant folds the SAME out-of-order fixture in true
    event-time order — the level the batch ewma operator would compute —
    where ewma_stream (pinned above) folds in arrival order."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        EWMA_ALPHA,
        ewma_stream_ordered,
    )

    src = tmp_path / "ticks_ordered"
    f1 = write_json_fixture(
        str(src), [fh_msg("AAPL", 0, 100.0), fh_msg("AAPL", 20, 104.0)], "f1.json"
    )
    f2 = write_json_fixture(str(src), [fh_msg("AAPL", 10, 96.0)], "f2.json")  # late
    # sentinel advances the (global) watermark past every AAPL tick so
    # the event-time timer fires and the buffered fold completes
    f3 = write_json_fixture(str(src), [fh_msg("ZZZZ", 4000)], "f3.json")
    now = _time.time()
    for i, f in enumerate([f1, f2, f3]):
        _os.utime(f, (now - 60 + 15 * i, now - 60 + 15 * i))
    ticks = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark, ewma_stream_ordered(ticks), "ewma_ord_t", mode="update"
    ).collect()
    final = max((r for r in out if r["symbol"] == "AAPL"), key=lambda r: r["n_obs"])
    # EVENT-TIME order: 100 (t=0), 96 (t=10), 104 (t=20) — the late tick
    # folds in its true position
    y = EWMA_ALPHA * 100.0
    for x in (96.0, 104.0):
        y = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * y
    assert final["n_obs"] == 3
    assert final["ewma"] == pytest.approx(y)


def test_session_stream_volume_parity_out_of_order(spark, tmp_path):
    """Volume parity: ~3000 ticks across 8 symbols, split into 6
    micro-batches with deliberately INTERLEAVED event times (each batch
    contains ticks older than the previous batch's max, within the
    watermark) — the realistic replay regime, not a 3-tick fixture. The
    stateful sessionizer's full output must equal the batch
    session_window aggregation over the same rows exactly."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        session_stream,
    )

    # deterministic pseudo-random tick times: symbol s, tick i at
    # t = (i*37 + hash-ish offset) % spread, quantized to seconds, so
    # sessions form naturally and batches interleave in event time
    symbols = [f"S{k:02d}" for k in range(8)]
    msgs = []
    for k, sym in enumerate(symbols):
        t = k * 7
        for i in range(375):
            t += ((i * 37 + k * 13) % 90) + 1  # gaps 1..90 s (gap=60 splits)
            msgs.append((t, fh_msg(sym, t, 100.0 + ((i * k) % 50) / 10)))
    # batch assignment interleaves event-time: round-robin by index, so
    # each micro-batch spans the whole timeline and later batches carry
    # ticks far older than earlier batches' maxima
    n_batches = 6
    src = tmp_path / "sess_vol"
    files = []
    for b in range(n_batches):
        chunk = [m for i, (_, m) in enumerate(msgs) if i % n_batches == b]
        files.append(write_json_fixture(str(src), chunk, f"f{b}.json"))
    # sentinel advances the watermark past everything at the end
    files.append(write_json_fixture(str(src), [fh_msg("ZZZZ", 10**6)], "fz.json"))
    now = _time.time()
    for i, f in enumerate(files):
        _os.utime(f, (now - 120 + 10 * i, now - 120 + 10 * i))

    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    # watermark must cover the round-robin interleave: a tick in batch b
    # can be the full timeline older than batch b-1's max — use a very
    # long watermark so NOTHING is late-dropped and parity must be exact
    out = drain(
        spark,
        session_stream(stream, gap="60 seconds", watermark="100 hours"),
        "sess_vol_t",
        mode="append",
    ).collect()
    got = {
        (r["symbol"], r["session_start"], r["session_end"], r["n_events"],
         round(r["sum_value"], 6))
        for r in out
        if r["symbol"] != "ZZZZ"
    }

    src_b = tmp_path / "sess_vol_b"
    write_json_fixture(str(src_b), [m for _, m in msgs])
    batch_raw = spark.read.text(str(src_b)).select(
        F.col("value").cast("string").alias("value")
    )
    batch = (
        finnhub_pipeline(batch_raw)
        .groupBy("symbol", F.session_window("datetime", "60 seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("last_price").alias("sum_value"))
        .select(
            "symbol",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .collect()
    )
    want = {
        (r["symbol"], r["session_start"],
         # built-in session_window's end = last_ts + gap; ours = last_ts
         None, r["n_events"], round(r["sum_value"], 6))
        for r in batch
    }
    got_cmp = {(s, st, None, n, v) for (s, st, _en, n, v) in got}
    assert len(got) > 100  # real session volume, not a handful
    assert got_cmp == want


def test_ewma_stream_ordered_volume_parity_out_of_order(spark, tmp_path):
    """Volume parity for the order-correct EWMA: ~1200 ticks across 4
    symbols, micro-batches round-robin-interleaved in event time (every
    batch carries ticks far older than earlier batches' maxima, all
    within the watermark). The final per-symbol level must equal the
    event-time-ordered recursive fold over the full series — the exact
    contract the operator sells."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        EWMA_ALPHA,
        ewma_stream_ordered,
    )

    symbols = [f"E{k}" for k in range(4)]
    ticks = []
    for k, sym in enumerate(symbols):
        t = k * 3
        for i in range(300):
            t += ((i * 29 + k * 11) % 40) + 1
            ticks.append((sym, t, 100.0 + ((i * (k + 2)) % 70) / 10))
    n_batches = 5
    src = tmp_path / "ewma_vol"
    files = []
    for b in range(n_batches):
        chunk = [
            fh_msg(s, t, p) for i, (s, t, p) in enumerate(ticks) if i % n_batches == b
        ]
        files.append(write_json_fixture(str(src), chunk, f"f{b}.json"))
    files.append(write_json_fixture(str(src), [fh_msg("ZZZZ", 10**6)], "fz.json"))
    now = _time.time()
    for i, f in enumerate(files):
        _os.utime(f, (now - 120 + 10 * i, now - 120 + 10 * i))

    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark,
        ewma_stream_ordered(stream, watermark="100 hours"),
        "ewma_vol_t",
        mode="update",
    ).collect()
    final = {}
    for r in out:
        if r["symbol"] == "ZZZZ":
            continue
        if r["symbol"] not in final or r["n_obs"] > final[r["symbol"]][1]:
            final[r["symbol"]] = (r["ewma"], r["n_obs"])

    import numpy as np

    for k, sym in enumerate(symbols):
        series = sorted((t, p) for s, t, p in ticks if s == sym)
        y = None
        for _t, x in series:
            x = float(np.float32(x))  # pipeline stores last_price as float32
            y = EWMA_ALPHA * x if y is None else EWMA_ALPHA * x + (1 - EWMA_ALPHA) * y
        assert final[sym][1] == len(series), sym
        assert final[sym][0] == pytest.approx(y, abs=1e-12), sym


def test_session_stream_state_survives_restart(spark, tmp_path):
    """The multi-session ARRAY state must round-trip through the state
    store across a full query restart: run 1 processes early ticks
    (sessions stay unfinalized under the watermark), the query STOPS,
    run 2 on the SAME checkpoint delivers late + bridging ticks and the
    sentinel — emitted sessions must equal the batch session_window over
    everything, exactly once (no duplicates from the restart)."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        session_stream,
    )

    src, cp = tmp_path / "sess_restart", str(tmp_path / "sess_restart_cp")
    sink = str(tmp_path / "sess_restart_out")
    # run 1: two sessions' worth of early ticks, out of order across files
    r1 = [
        ("f1.json", [fh_msg("AAPL", 100, 1.0), fh_msg("AAPL", 300, 2.0)]),
        ("f2.json", [fh_msg("AAPL", 120, 4.0), fh_msg("AAPL", 320, 8.0)]),
    ]
    # run 2: a late tick extending the FIRST session, a bridging tick
    # merging nothing (fresh later session), then the sentinel
    r2 = [
        ("f3.json", [fh_msg("AAPL", 140, 16.0), fh_msg("AAPL", 600, 32.0)]),
        ("f4.json", [fh_msg("ZZZZ", 100000)]),
    ]

    def run(files):
        fs = [write_json_fixture(str(src), msgs, name) for name, msgs in files]
        now = _time.time()
        for i, f in enumerate(sorted(_os.listdir(str(src)))):
            fp = _os.path.join(str(src), f)
            _os.utime(fp, (now - 600 + 10 * i, now - 600 + 10 * i))
        stream = finnhub_pipeline(
            kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
            dedup_watermark=None,
        )
        q = (
            session_stream(stream, gap="60 seconds", watermark="1000 seconds")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(r1)  # stops after draining r1 files; state persisted in cp
    run(r2)  # RESTART from checkpoint; late + new ticks + sentinel
    out = [r for r in spark.read.parquet(sink).collect() if r["symbol"] == "AAPL"]
    got = sorted(
        (r["session_start"].isoformat(), r["session_end"].isoformat(),
         r["n_events"], r["sum_value"])
        for r in out
    )
    # batch truth: sessions over ALL six AAPL ticks with gap 60s:
    #   [100,120,140] , [300,320] , [600]
    assert got == [
        ("2024-01-02T14:21:40", "2024-01-02T14:22:20", 3, 21.0),
        ("2024-01-02T14:25:00", "2024-01-02T14:25:20", 2, 10.0),
        ("2024-01-02T14:30:00", "2024-01-02T14:30:00", 1, 32.0),
    ]


def test_rsi_stream_volume_parity_out_of_order(spark, tmp_path):
    """The streaming RSI (indicator family on the live pipeline) must
    emit, across ~1200 out-of-order ticks in round-robin-interleaved
    micro-batches, exactly the per-tick RSI series a batch fold over the
    event-time-sorted ticks produces — same 7-diff SMA arithmetic as the
    oracle-verified rsi_indicator catalog query."""
    import os as _os
    import time as _time

    import numpy as np

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        RSI_PERIOD,
        rsi_stream,
    )

    symbols = [f"R{k}" for k in range(4)]
    ticks = []
    for k, sym in enumerate(symbols):
        t = k * 3
        for i in range(300):
            t += ((i * 29 + k * 11) % 40) + 1
            ticks.append((sym, t, 100.0 + ((i * (k + 2)) % 70) / 10 - ((i * 7) % 30) / 10))
    n_batches = 5
    src = tmp_path / "rsi_vol"
    files = []
    for b in range(n_batches):
        chunk = [
            fh_msg(s, t, p) for i, (s, t, p) in enumerate(ticks) if i % n_batches == b
        ]
        files.append(write_json_fixture(str(src), chunk, f"f{b}.json"))
    files.append(write_json_fixture(str(src), [fh_msg("ZZZZ", 10**6)], "fz.json"))
    now = _time.time()
    for i, f in enumerate(files):
        _os.utime(f, (now - 120 + 10 * i, now - 120 + 10 * i))

    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark,
        rsi_stream(stream, watermark="100 hours"),
        "rsi_vol_t",
        mode="append",
    ).collect()
    got = {
        (r["symbol"], int(r["datetime"].timestamp() - BASE_MS / 1000), r["n_obs"]): r["rsi"]
        for r in out
        if r["symbol"] != "ZZZZ"
    }

    # reference: per-symbol event-time-sorted fold, identical arithmetic
    want = {}
    for k, sym in enumerate(symbols):
        series = sorted((t, p) for s, t, p in ticks if s == sym)
        prev, diffs, n = None, [], 0
        for t, p in series:
            x = float(np.float32(p))  # pipeline stores last_price as float32
            if prev is not None:
                diffs.append(x - prev)
                if len(diffs) > RSI_PERIOD:
                    del diffs[0]
            prev = x
            n += 1
            if len(diffs) == RSI_PERIOD:
                gain = sum(d for d in diffs if d > 0)
                loss = sum(-d for d in diffs if d < 0)
                rsi = 100.0 if loss == 0.0 else 100.0 - 100.0 / (1.0 + gain / loss)
                want[(sym, t, n)] = rsi

    assert len(got) == len(want) == 4 * (300 - RSI_PERIOD)
    for key_, rsi in want.items():
        assert got[key_] == pytest.approx(rsi, abs=1e-9), key_


def test_rsi_stream_state_survives_restart(spark, tmp_path):
    """The RSI (prev, diffs-ring, buffer) state must round-trip through
    the state store across a full query restart: run 1 delivers 6 ticks
    (below the 7-diff emission threshold, some still buffered under the
    watermark), the query STOPS, run 2 on the SAME checkpoint delivers
    4 more ticks + the sentinel — emissions must equal the global
    event-time fold over all 10 ticks, exactly once (rows 8, 9, 10;
    no duplicates, no restart-induced ring reset)."""
    import os as _os
    import time as _time

    import numpy as np

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        RSI_PERIOD,
        rsi_fold,
        rsi_stream,
    )

    ticks1 = [(10, 100.0), (20, 102.0), (30, 99.0), (40, 103.0), (50, 101.0), (60, 104.0)]
    ticks2 = [(70, 98.0), (80, 105.0), (90, 97.0), (100, 106.0)]
    src, cp = tmp_path / "rsi_restart", str(tmp_path / "rsi_restart_cp")
    sink = str(tmp_path / "rsi_restart_out")
    r1 = [
        ("f1.json", [fh_msg("AAPL", t, p) for t, p in ticks1[:3]]),
        ("f2.json", [fh_msg("AAPL", t, p) for t, p in ticks1[3:]]),
    ]
    r2 = [
        ("f3.json", [fh_msg("AAPL", t, p) for t, p in ticks2]),
        ("f4.json", [fh_msg("ZZZZ", 100000)]),
    ]

    def run(files):
        for name, msgs in files:
            write_json_fixture(str(src), msgs, name)
        now = _time.time()
        for i, f in enumerate(sorted(_os.listdir(str(src)))):
            fp = _os.path.join(str(src), f)
            _os.utime(fp, (now - 600 + 10 * i, now - 600 + 10 * i))
        stream = finnhub_pipeline(
            kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
            dedup_watermark=None,
        )
        q = (
            rsi_stream(stream, watermark="1000 seconds")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(r1)
    run(r2)  # RESTART from checkpoint
    out = [r for r in spark.read.parquet(sink).collect() if r["symbol"] == "AAPL"]
    got = sorted((r["n_obs"], int(r["datetime"].timestamp() - BASE_MS / 1000), r["rsi"]) for r in out)

    all_ticks = [(t, float(np.float32(p))) for t, p in ticks1 + ticks2]
    _, _, _, want_rows = rsi_fold(0.0, [], 0, sorted(all_ticks))
    want = sorted((n, t, rsi) for t, rsi, n in want_rows)
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert len(got) == len(ticks1 + ticks2) - RSI_PERIOD == 3
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], abs=1e-9)


def test_macd_stream_matches_batch_query(spark, tmp_path, sf_dir):
    """EXACT cross-surface parity: the streaming MACD fed the sf0.001
    events rows (as out-of-order micro-batches) must emit value-for-value
    the batch `macd` catalog query's macd_line/signal_line — no
    tolerance, because `macd_fold` replicates the batch plan's exact
    IEEE double sequence including Spark's HALF_UP ROUND(…, 6)."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.registry import load_all
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        macd_stream,
    )

    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "event_type AS symbol",
            "CAST(ts AS TIMESTAMP) AS datetime",
            "CAST(value AS DOUBLE) AS last_price",
        )
        .collect()
    )
    # 3 round-robin interleaved chunks: every chunk spans the whole
    # timeline, so later chunks carry ticks older than earlier maxima
    src = tmp_path / "macd_ticks"
    src.mkdir()
    rows = [(r["symbol"], r["datetime"], r["last_price"]) for r in events]
    for b in range(3):
        chunk = [r for i, r in enumerate(rows) if i % 3 == b]
        spark.createDataFrame(chunk, "symbol string, datetime timestamp, last_price double") \
            .coalesce(1).write.parquet(str(src / f"b{b}"))
    # sentinel chunk: far-future tick advancing the global watermark
    # past every real event so the buffered folds complete
    import datetime as _dt

    spark.createDataFrame(
        [("ZZZZ", _dt.datetime(2025, 6, 1), 1.0)],
        "symbol string, datetime timestamp, last_price double",
    ).coalesce(1).write.parquet(str(src / "b3"))
    paths = [str(src / f"b{b}") for b in range(4)]
    now = _time.time()
    for i, p in enumerate(paths):
        for f in _os.listdir(p):
            _os.utime(_os.path.join(p, f), (now - 60 + 15 * i, now - 60 + 15 * i))

    stream = (
        spark.readStream.schema("symbol string, datetime timestamp, last_price double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = drain(
        spark,
        macd_stream(stream, watermark="100 days"),
        "macd_parity_t",
        mode="append",
    ).collect()
    got = {
        (r["symbol"], r["n_obs"]): (r["macd_line"], r["signal_line"])
        for r in out
        if r["symbol"] != "ZZZZ"
    }

    batch = load_all()["macd"].fn(spark, sf_dir).collect()
    per_type: dict = {}
    want = {}
    for r in sorted(batch, key=lambda r: (r["event_type"], r["ts"], r["event_id"])):
        k = per_type.get(r["event_type"], 0) + 1
        per_type[r["event_type"]] = k
        want[(r["event_type"], k)] = (r["macd_line"], r["signal_line"])

    assert len(got) == len(want) == len(rows)
    assert got == want  # EXACT equality, every tick, both lines


def test_bollinger_stream_matches_batch_window(spark, tmp_path, sf_dir):
    """EXACT cross-surface parity for the third streaming indicator: the
    streaming Bollinger fed the sf0.001 events rows (as out-of-order
    micro-batches) must emit value-for-value the batch window
    formulation's sma/sigma/bands — no tolerance, because
    ``bollinger_fold`` replays the batch plan's exact integer-cents
    moments and IEEE double sequence."""
    import datetime as _dt
    import os as _os
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        bollinger_stream,
    )

    events_df = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id",
        "event_type AS symbol",
        "CAST(ts AS TIMESTAMP) AS datetime",
        "CAST(value AS DOUBLE) AS last_price",
    )
    rows = [
        (r["symbol"], r["datetime"], r["last_price"]) for r in events_df.collect()
    ]
    src = tmp_path / "boll_ticks"
    src.mkdir()
    for b in range(3):
        chunk = [r for i, r in enumerate(rows) if i % 3 == b]
        spark.createDataFrame(
            chunk, "symbol string, datetime timestamp, last_price double"
        ).coalesce(1).write.parquet(str(src / f"b{b}"))
    spark.createDataFrame(
        [("ZZZZ", _dt.datetime(2025, 6, 1), 1.0)],
        "symbol string, datetime timestamp, last_price double",
    ).coalesce(1).write.parquet(str(src / "b3"))
    paths = [str(src / f"b{b}") for b in range(4)]
    now = _time.time()
    for i, p in enumerate(paths):
        for f in _os.listdir(p):
            _os.utime(_os.path.join(p, f), (now - 60 + 15 * i, now - 60 + 15 * i))

    stream = (
        spark.readStream.schema("symbol string, datetime timestamp, last_price double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = drain(
        spark,
        bollinger_stream(stream, watermark="100 days"),
        "boll_parity_t",
        mode="append",
    ).collect()
    got = {
        (r["symbol"], r["n_obs"]): (
            r["sma"],
            r["sigma"],
            r["lower_band"],
            r["upper_band"],
        )
        for r in out
        if r["symbol"] != "ZZZZ"
    }

    # batch twin: the SAME exact-cents window arithmetic as the
    # bollinger_bands catalog query, over the same tick series
    w = (
        Window.partitionBy("symbol")
        .orderBy("datetime", "event_id")
        .rowsBetween(-9, 0)
    )
    wr = Window.partitionBy("symbol").orderBy("datetime", "event_id")
    c = F.floor(F.col("last_price") * 100 + 0.5).cast("bigint")
    acc = events_df.select(
        "symbol",
        F.sum(c).over(w).alias("s1c"),
        F.sum(c * c).over(w).alias("s2c"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.row_number().over(wr).alias("k"),
    )
    n = F.col("n")
    mean = F.col("s1c").cast("double") / n / F.lit(100.0)
    var = F.greatest(
        (n * F.col("s2c") - F.col("s1c") * F.col("s1c")).cast("double")
        / (n * n)
        / F.lit(10000.0),
        F.lit(0.0),
    )
    sigma = F.sqrt(var)
    batch = (
        acc.filter(F.col("n") == 10)
        .select(
            "symbol",
            "k",
            mean.alias("sma"),
            sigma.alias("sigma"),
            (mean - 2.0 * sigma).alias("lower_band"),
            (mean + 2.0 * sigma).alias("upper_band"),
        )
        .collect()
    )
    want = {
        (r["symbol"], r["k"]): (
            r["sma"],
            r["sigma"],
            r["lower_band"],
            r["upper_band"],
        )
        for r in batch
    }
    assert len(got) == len(want)
    assert got == want  # EXACT equality, every tick, all four outputs


def _yf_bar_msg(ticker, offset_s, close):
    iso = __import__("datetime").datetime.utcfromtimestamp(
        BASE_MS // 1000 + offset_s
    ).isoformat()
    return json.dumps(
        {
            "Datetime": iso,
            "Open": close,
            "High": close,
            "Low": close,
            "Close": close,
            "Adj Close": close,
            "Volume": 50,
            "Dividends": 0.0,
            "Stock Splits": 0.0,
            "ticker": ticker,
        }
    )


def test_asof_fold_kernel_ties():
    """The pure kernel's tie contract: bar-before-trade at equal ts
    (inclusive >=), equal-ts bars resolve to the max row id, trades
    before any bar match NULL."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        asof_fold,
    )

    ripe = sorted(
        [
            (5, 1, "t0", 9.0),  # trade before any bar -> no match
            (10, 0, "b1", 1.0),
            (10, 0, "b2", 2.0),  # same-ts bar, larger id wins
            (10, 1, "t1", 8.0),  # equal ts: bar first (inclusive)
            (20, 1, "t2", 7.0),  # later trade reuses the carry
        ]
    )
    carry_ts, carry_val, rows = asof_fold(None, None, ripe)
    assert (carry_ts, carry_val) == (10, 2.0)
    assert rows == [
        (5, "t0", 9.0, None, None),
        (10, "t1", 8.0, 10, 2.0),
        (20, "t2", 7.0, 10, 2.0),
    ]
    # the carry survives across fold calls (micro-batch boundary)
    _, _, rows2 = asof_fold(carry_ts, carry_val, [(30, 1, "t3", 6.0)])
    assert rows2 == [(30, "t3", 6.0, 10, 2.0)]


def test_asof_revised_bar_same_on_timer_and_data_flush():
    """A revised yfinance bar keeps its bar's (ts, id) — the id is
    sha2(ticker§datetime) — and only its close changes. A trade at that
    ts must be enriched with the same revision whether the buffer is
    flushed by the key's event-time timer or by its next data batch: the
    later revision, whose close here is the lower one."""
    import pandas as pd

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        _asof_update,
    )

    from .conftest import FakeGroupState

    ts_us = BASE_MS * 1_000
    # arrival order: first revision, later revision, then the trade
    buffered = (
        None, None, [ts_us] * 3, [0, 0, 1], ["bar1", "bar1", "t1"], [101.0, 99.5, 50.0]
    )
    wm = BASE_MS + 10_000

    timer = FakeGroupState(wm, buffered).call(_asof_update, ("AAPL",), timed_out=True)
    later_trade = pd.DataFrame(
        {
            "datetime": [pd.Timestamp(BASE_MS + 60_000, unit="ms")],
            "side": [1],
            "id": ["t2"],
            "value": [51.0],
        }
    )
    data = FakeGroupState(wm, buffered).call(_asof_update, ("AAPL",), [later_trade])

    got = [(f["trade_id"].tolist(), f["bar_value"].tolist()) for f in timer + data]
    assert got == [(["t1"], [99.5]), (["t1"], [99.5])]


def test_only_the_watermark_buffer_and_sessions_arm_timers():
    """Source scan: under the package, ``setTimeoutTimestamp`` is called
    only by ``watermark_buffered`` and by ``session_stream``'s updater.
    An event-time-ordered operator gets its buffer and timer from the
    factory instead of growing its own copy."""
    import ast
    import pathlib

    import finance_data_ingestion_pipeline_with_kafka_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    calls = []
    for f in sorted(root.rglob("*.py")):
        for top in ast.parse(f.read_text()).body:
            calls += [
                (f.relative_to(root).as_posix(), getattr(top, "name", None))
                for node in ast.walk(top)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "setTimeoutTimestamp"
            ]
    assert calls == [
        ("streaming/stateful.py", "watermark_buffered"),
        ("streaming/stateful.py", "_session_update_factory"),
    ], calls


def test_asof_stream_parity_out_of_order(spark, tmp_path):
    """Streaming as-of join vs an independent brute-force reference:
    trades and bars for 3 symbols arrive round-robin-interleaved across
    micro-batches (each batch carries rows far older than earlier
    batches' maxima, all within the watermark). Every trade must be
    enriched with the latest bar at-or-before its event time exactly
    once — equal to per-trade brute force over the full series."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        yfinance_pipeline,
    )
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        asof_enrich_stream,
    )

    symbols = ["A1", "B2", "C3"]
    trades, bars = [], []
    for k, sym in enumerate(symbols):
        t = 7 * k
        for i in range(40):
            t += ((i * 13 + k * 5) % 23) + 1
            trades.append((sym, t, 100.0 + (i % 9)))
        b = 3 * k
        for i in range(15):
            b += ((i * 17 + k * 3) % 55) + 2
            bars.append((sym, b, 200.0 + i))

    tsrc, bsrc = tmp_path / "asof_trades", tmp_path / "asof_bars"
    n_batches = 4
    tfiles, bfiles = [], []
    for nb in range(n_batches):
        tfiles.append(
            write_json_fixture(
                str(tsrc),
                [fh_msg(s, t, p) for i, (s, t, p) in enumerate(trades) if i % n_batches == nb],
                f"t{nb}.json",
            )
        )
        bfiles.append(
            write_json_fixture(
                str(bsrc),
                [_yf_bar_msg(s, t, p) for i, (s, t, p) in enumerate(bars) if i % n_batches == nb],
                f"b{nb}.json",
            )
        )
    # sentinel trade far in the future flushes every pending buffer
    tfiles.append(write_json_fixture(str(tsrc), [fh_msg("ZZZZ", 10**6)], "tz.json"))
    now = _time.time()
    for i, f in enumerate(tfiles + bfiles):
        _os.utime(f, (now - 120 + 7 * i, now - 120 + 7 * i))

    t_stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(tsrc), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    b_stream = yfinance_pipeline(
        kafka_shaped_file_stream(spark, str(bsrc), max_files_per_trigger=1)
    )
    out = drain(
        spark,
        asof_enrich_stream(t_stream, b_stream, watermark="100 hours"),
        "asof_t",
        mode="append",
    ).collect()
    got = {
        (r["symbol"], r["datetime"].timestamp(), r["trade_value"]): (
            None if r["bar_ts"] is None else r["bar_ts"].timestamp(),
            r["bar_value"],
        )
        for r in out
        if r["symbol"] != "ZZZZ"
    }
    # exactly-once: every non-sentinel trade emitted once
    assert len([r for r in out if r["symbol"] != "ZZZZ"]) == len(trades)
    base_s = BASE_MS / 1000
    import numpy as np

    for sym, t, p in trades:
        prior = [(bt, bp) for bs, bt, bp in bars if bs == sym and bt <= t]
        want = max(prior) if prior else None
        key = (sym, base_s + t, float(np.float32(p)))
        assert key in got, key
        if want is None:
            assert got[key] == (None, None), key
        else:
            assert got[key] == (base_s + want[0], want[1]), key


def test_asof_stream_state_survives_restart(spark, tmp_path):
    """The as-of carry + ordering buffer must round-trip through the
    state store across a full query restart: run 1 folds an early bar
    and a first trade (watermark passes them), the query STOPS; run 2 on
    the SAME checkpoint delivers a later bar, a trade BETWEEN the two
    bars (must match the run-1 bar from restored carry state), a trade
    after the new bar, and the sentinel. Exactly-once, no re-emission of
    the run-1 enrichment."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        yfinance_pipeline,
    )
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        asof_enrich_stream,
    )

    tsrc, bsrc = tmp_path / "asr_trades", tmp_path / "asr_bars"
    cp, sink = str(tmp_path / "asr_cp"), str(tmp_path / "asr_out")

    def run(trade_files, bar_files):
        for name, msgs in trade_files:
            write_json_fixture(str(tsrc), msgs, name)
        for name, msgs in bar_files:
            write_json_fixture(str(bsrc), msgs, name)
        now = _time.time()
        for d in (tsrc, bsrc):
            for i, f in enumerate(sorted(_os.listdir(str(d)))):
                fp = _os.path.join(str(d), f)
                _os.utime(fp, (now - 600 + 10 * i, now - 600 + 10 * i))
        t_stream = finnhub_pipeline(
            kafka_shaped_file_stream(spark, str(tsrc), max_files_per_trigger=1),
            dedup_watermark=None,
        )
        b_stream = yfinance_pipeline(
            kafka_shaped_file_stream(spark, str(bsrc), max_files_per_trigger=1)
        )
        q = (
            asof_enrich_stream(t_stream, b_stream, watermark="5 seconds")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: bar@0 (close 200), trade@10 (matches bar@0), flusher trade
    # far enough that the 5s watermark finalizes both
    run(
        [("t1.json", [fh_msg("AAPL", 10, 101.0), fh_msg("AAPL", 100, 102.0)])],
        [("b1.json", [_yf_bar_msg("AAPL", 0, 200.0)])],
    )
    # run 2 (restart): bar@150, trade@120 (between bars -> must hit the
    # RESTORED carry bar@0), trade@180 (hits bar@150), sentinel
    run(
        [
            (
                "t2.json",
                [fh_msg("AAPL", 120, 103.0), fh_msg("AAPL", 180, 104.0)],
            ),
            ("t3.json", [fh_msg("ZZZZ", 10**6)]),
        ],
        [("b2.json", [_yf_bar_msg("AAPL", 150, 201.0)])],
    )
    rows = [r for r in spark.read.parquet(sink).collect() if r["symbol"] == "AAPL"]
    base_s = BASE_MS / 1000
    got = sorted(
        (r["datetime"].timestamp() - base_s, r["trade_value"],
         None if r["bar_ts"] is None else r["bar_ts"].timestamp() - base_s,
         r["bar_value"])
        for r in rows
    )
    assert got == [
        (10.0, 101.0, 0.0, 200.0),
        (100.0, 102.0, 0.0, 200.0),
        (120.0, 103.0, 0.0, 200.0),   # restored carry across restart
        (180.0, 104.0, 150.0, 201.0),
    ]


def test_rv_bipower_stream_daily_parity_out_of_order(spark, tmp_path):
    """The streaming RV/bipower jump monitor must reproduce, across
    out-of-order multi-day ticks interleaved over micro-batches, exactly
    the per-(symbol, day) statistics an independent event-time fold
    computes with the batch realized_bipower arithmetic (within-day log
    returns over the all-ticks lag, half-up 1e-6 micros snap, shared
    pi/2 literal, bv undefined until a valid-return pair exists). Days
    proven closed by a later-day tick carry day_final=True."""
    import math
    import os as _os
    import time as _time

    import numpy as np

    from finance_data_ingestion_pipeline_with_kafka_spark.operators.timeseries import (
        BIPOWER_COEF,
    )
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        rv_bipower_stream,
    )

    DAY_S = 86_400
    symbols = ["RVA", "RVB", "RVC"]
    ticks = []
    for k, sym in enumerate(symbols):
        t = k * 7
        for i in range(240):
            t += ((i * 31 + k * 13) % 900) + 30  # ~3 days of irregular ticks
            # occasional non-positive price: must advance the lag but
            # produce no return (the batch kernel's validity gate)
            p = -1.0 if (i % 47) == 13 else 100.0 + ((i * (k + 3)) % 80) / 4 - ((i * 11) % 40) / 4
            ticks.append((sym, t, p))
    n_batches = 5
    src = tmp_path / "rvbp"
    files = []
    for b in range(n_batches):
        chunk = [
            fh_msg(s, t, p) for i, (s, t, p) in enumerate(ticks) if i % n_batches == b
        ]
        files.append(write_json_fixture(str(src), chunk, f"f{b}.json"))
    files.append(write_json_fixture(str(src), [fh_msg("ZZZZ", 10**7)], "fz.json"))
    now = _time.time()
    for i, f in enumerate(files):
        _os.utime(f, (now - 120 + 10 * i, now - 120 + 10 * i))

    stream = finnhub_pipeline(
        kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
        dedup_watermark=None,
    )
    out = drain(
        spark,
        rv_bipower_stream(stream, watermark="1000 hours"),
        "rvbp_t",
        mode="update",
    ).collect()

    # last emission per (symbol, day) wins (update mode); finals must
    # never be contradicted by a later running row
    got, finals = {}, {}
    for r in out:
        if r["symbol"] == "ZZZZ":
            continue
        key = (r["symbol"], r["day"].date().isoformat())
        got[key] = r
        if r["day_final"]:
            assert key not in finals, f"{key} finalized twice"
            finals[key] = r
    for key, r in finals.items():
        assert got[key] == r, f"{key}: running row after day_final"

    # independent event-time reference with the batch arithmetic
    snap = lambda v: math.floor(v * 1e6 + 0.5)
    want = {}
    for sym in symbols:
        series = sorted(
            ((t, float(np.float32(p))) for s, t, p in ticks if s == sym),
            key=lambda p: p[0],
        )
        prev_px, prev_day, prev_abs_r = None, None, None
        acc = {}
        for t, p in series:
            d = (BASE_MS // 1000 + t) // DAY_S
            if d != prev_day:
                prev_px, prev_abs_r = None, None
                prev_day = d
            a = acc.setdefault(d, [0, 0, 0, 0])  # rv_mi, bv_mi, n_rets, n_pairs
            if prev_px is not None and p > 0 and prev_px > 0:
                r = math.log(p / prev_px)
                a[2] += 1
                a[0] += snap(r * r)
                if prev_abs_r is not None:
                    a[1] += snap(abs(r) * prev_abs_r)
                    a[3] += 1
                prev_abs_r = abs(r)
            prev_px = p
        for d, (rv_mi, bv_mi, n_rets, n_pairs) in acc.items():
            day_iso = __import__("datetime").datetime.utcfromtimestamp(
                d * DAY_S
            ).date().isoformat()
            rv = rv_mi / 1e6
            bv = BIPOWER_COEF * (bv_mi / 1e6) if n_pairs > 0 else None
            jump = max(1.0 - bv / rv, 0.0) if (rv > 0 and bv is not None) else None
            want[(sym, day_iso)] = (n_rets, rv, bv, jump)

    assert set(got) == set(want)
    for key, (n_rets, rv, bv, jump) in want.items():
        r = got[key]
        assert r["n_rets"] == n_rets, key
        assert r["rv"] == pytest.approx(rv, abs=1e-12), key
        if bv is None:
            assert r["bv"] is None and r["jump_ratio"] is None, key
        else:
            assert r["bv"] == pytest.approx(bv, abs=1e-12), key
            assert r["jump_ratio"] == pytest.approx(jump, abs=1e-12), key
    # every non-last day per symbol must have been finalized
    for sym in symbols:
        days = sorted(d for s, d in want if s == sym)
        for d in days[:-1]:
            assert (sym, d) in finals, (sym, d)
        assert (sym, days[-1]) not in finals


def test_rv_bipower_stream_state_survives_restart(spark, tmp_path):
    """The (day, lag-price, lag-|r|, micros-lanes, buffer) state must
    round-trip through the state store across a full query restart: run
    1 delivers day-1 ticks (some buffered under the watermark), the
    query STOPS, run 2 on the SAME checkpoint delivers the rest of
    day 1 plus day-2 ticks and the sentinel — the day-1 row must
    finalize with statistics spanning BOTH runs (no restart-induced
    lane reset, no double-finalization)."""
    import math
    import os as _os
    import time as _time

    import numpy as np

    from finance_data_ingestion_pipeline_with_kafka_spark.operators.timeseries import (
        BIPOWER_COEF,
    )
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        rv_bipower_stream,
    )

    DAY_S = 86_400
    day1 = [(100, 100.0), (200, 103.0), (300, 99.0), (400, 101.0)]
    day2 = [(DAY_S + 100, 102.0), (DAY_S + 200, 105.0), (DAY_S + 300, 104.0)]
    src, cp = tmp_path / "rvbp_restart", str(tmp_path / "rvbp_restart_cp")
    sink = str(tmp_path / "rvbp_restart_out")
    r1 = [
        ("f1.json", [fh_msg("AAPL", t, p) for t, p in day1[:2]]),
        ("f2.json", [fh_msg("AAPL", t, p) for t, p in day1[2:]]),
    ]
    r2 = [
        ("f3.json", [fh_msg("AAPL", t, p) for t, p in day2]),
        ("f4.json", [fh_msg("ZZZZ", 10**7)]),
    ]

    def run(files):
        for name, msgs in files:
            write_json_fixture(str(src), msgs, name)
        now = _time.time()
        for i, f in enumerate(sorted(_os.listdir(str(src)))):
            fp = _os.path.join(str(src), f)
            _os.utime(fp, (now - 600 + 10 * i, now - 600 + 10 * i))
        stream = finnhub_pipeline(
            kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
            dedup_watermark=None,
        )
        q = (
            rv_bipower_stream(stream, watermark="1000 hours")
            .writeStream.outputMode("update")
            # parquet rejects update mode; foreachBatch appends each
            # micro-batch's emissions, preserving emission order via
            # the batch id so "last row per (symbol, day)" stays readable
            .foreachBatch(
                lambda bdf, bid: bdf.withColumn(
                    "batch_id", F.lit(bid)
                ).write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(r1)
    run(r2)  # RESTART from checkpoint
    out = [
        r
        for r in spark.read.parquet(sink)
        .orderBy("batch_id", "day")
        .collect()
        if r["symbol"] == "AAPL"
    ]

    snap = lambda v: math.floor(v * 1e6 + 0.5)

    def fold(series):
        prev_px, prev_abs_r = None, None
        rv_mi, bv_mi, n_rets, n_pairs = 0, 0, 0, 0
        for _t, p in series:
            x = float(np.float32(p))
            if prev_px is not None and x > 0 and prev_px > 0:
                r = math.log(x / prev_px)
                n_rets += 1
                rv_mi += snap(r * r)
                if prev_abs_r is not None:
                    bv_mi += snap(abs(r) * prev_abs_r)
                    n_pairs += 1
                prev_abs_r = abs(r)
            prev_px = x
        rv = rv_mi / 1e6
        bv = BIPOWER_COEF * (bv_mi / 1e6) if n_pairs > 0 else None
        jump = max(1.0 - bv / rv, 0.0) if (rv > 0 and bv is not None) else None
        return n_rets, rv, bv, jump

    finals = [r for r in out if r["day_final"]]
    assert len(finals) == 1, finals  # day 1 finalized exactly once
    n_rets, rv, bv, jump = fold(day1)
    f = finals[0]
    assert f["n_rets"] == n_rets == 3  # spans both runs
    assert f["rv"] == pytest.approx(rv, abs=1e-12)
    assert f["bv"] == pytest.approx(bv, abs=1e-12)
    assert f["jump_ratio"] == pytest.approx(jump, abs=1e-12)
    # day-2 running row reflects day-2-only statistics
    day2_rows = [r for r in out if r["day"].day != f["day"].day]
    assert day2_rows
    n2, rv2, bv2, _ = fold(day2)
    last2 = day2_rows[-1]
    assert last2["n_rets"] == n2 == 2
    assert last2["rv"] == pytest.approx(rv2, abs=1e-12)
    assert last2["bv"] == pytest.approx(bv2, abs=1e-12)
    assert not last2["day_final"]


def test_rv_bipower_stream_same_ms_ties_arrival_order_independent(spark, tmp_path):
    """Same-millisecond ticks must fold in a deterministic order no
    matter which micro-batch delivers them first (ADVICE r13: a ts-only
    buffer sort folded same-ms ties in ARRIVAL order, so two replays of
    the same tape could emit different rv/bv): deliver three ticks
    sharing one millisecond, one per micro-batch, in two different
    arrival orders, and require byte-identical daily statistics."""
    import os as _os
    import time as _time

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        rv_bipower_stream,
    )

    ticks = [
        ("TIE", 10, 100.0, 10),
        ("TIE", 10, 105.0, 11),  # same ms, distinct price/volume → distinct id
        ("TIE", 10, 95.0, 12),
        ("TIE", 4000, 101.0, 13),
    ]
    results = {}
    for tag, order in (("fwd", (0, 1, 2, 3)), ("rev", (2, 0, 3, 1))):
        src = tmp_path / f"ties_{tag}"
        for i, j in enumerate(order):
            s, t, p, v = ticks[j]
            write_json_fixture(str(src), [fh_msg(s, t, p, v)], f"f{i}.json")
        write_json_fixture(str(src), [fh_msg("ZZZZ", 10**7)], "fz.json")
        now = _time.time()
        for i, f in enumerate(sorted(_os.listdir(str(src)))):
            fp = _os.path.join(str(src), f)
            _os.utime(fp, (now - 300 + 10 * i, now - 300 + 10 * i))
        stream = finnhub_pipeline(
            kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1),
            dedup_watermark=None,
        )
        out = drain(
            spark,
            rv_bipower_stream(stream, watermark="1000 hours"),
            f"rv_ties_{tag}",
            mode="update",
        ).collect()
        last = {}
        for r in out:  # update mode: last emission per (symbol, day) wins
            if r["symbol"] == "TIE":
                last[r["day"].isoformat()] = (
                    r["n_rets"], r["rv"], r["bv"], r["jump_ratio"]
                )
        results[tag] = last
    assert results["fwd"] == results["rev"], results
    (stats,) = results["fwd"].values()
    assert stats[0] == 3  # all four ticks folded: three returns, one day


def test_rv_bipower_fold_semantics():
    """Pure-fold contract: day rollover finalizes with the batch
    arithmetic, a single-return day has UNDEFINED bipower (None, never a
    fake 0), beyond-watermark reopening of a closed day is refused, and
    an invalid price advances the lag without producing a return while
    the bipower lag persists across it."""
    import math

    from finance_data_ingestion_pipeline_with_kafka_spark.operators.timeseries import (
        BIPOWER_COEF,
    )
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import (
        _DAY_MS,
        rv_bipower_fold,
    )

    empty = (None, None, None, 0, 0, 0, 0)
    snap = lambda v: math.floor(v * 1e6 + 0.5)
    ticks = [
        (0, 100.0),
        (1000, 102.0),
        (2000, 99.0),
        (_DAY_MS + 5, 101.0),
        (_DAY_MS + 9, 104.0),
    ]
    core, rows = rv_bipower_fold(empty, ticks)
    r1, r2 = math.log(102 / 100), math.log(99 / 102)
    exp_rv = (snap(r1 * r1) + snap(r2 * r2)) / 1e6
    exp_bv = BIPOWER_COEF * snap(abs(r2) * abs(r1)) / 1e6
    d1, d2 = rows
    assert d1["day_final"] and d1["n_rets"] == 2
    assert d1["rv"] == pytest.approx(exp_rv, abs=1e-15)
    assert d1["bv"] == pytest.approx(exp_bv, abs=1e-15)
    assert d1["jump_ratio"] == pytest.approx(
        max(1 - exp_bv / exp_rv, 0.0), abs=1e-15
    )
    # day 2 has one return: rv defined, bv/jump_ratio undefined
    assert not d2["day_final"] and d2["n_rets"] == 1
    assert d2["bv"] is None and d2["jump_ratio"] is None

    # beyond-watermark reopen of the closed day: refused, state unchanged
    core2, rows2 = rv_bipower_fold(core, [(10, 50.0)])
    assert core2 == core and rows2 == []

    # invalid price: advances the lag (no return either side of it),
    # and the valid-return bipower lag persists across it
    _, rows3 = rv_bipower_fold(
        empty, [(0, 100.0), (1, -1.0), (2, 105.0), (3, 110.0)]
    )
    last = rows3[-1]
    assert last["n_rets"] == 1 and last["bv"] is None
