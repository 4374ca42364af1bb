"""Streaming core tests (SURVEY §5.3–5.4): file-replay of the Kafka wire
format through the full pipelines with ``trigger(availableNow=True)``,
golden sink contracts, idempotent-replay semantics, watermarked dedup.
"""

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from finance_data_ingestion_pipeline_with_kafka_spark.schemas import (
    STOCK_DATA_COLUMNS,
    STOCK_TRADE_COLUMNS,
)
from finance_data_ingestion_pipeline_with_kafka_spark.sources import (
    kafka_shaped_file_stream,
    write_json_fixture,
)
from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
    finnhub_pipeline,
    yfinance_pipeline,
)
from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
    PARTITION_COL,
    start_idempotent_parquet_sink,
)


def yf_msg(ticker="AAPL", minute=0, close=101.5, volume=1000, **over):
    m = {
        "Datetime": f"2024-01-02T14:{minute:02d}:00",
        "Open": 100.0,
        "High": 102.0,
        "Low": 99.5,
        "Close": close,
        "Adj Close": close,
        "Volume": volume,
        "Dividends": 0.0,
        "Stock Splits": 0.0,
        "ticker": ticker,
    }
    m.update(over)
    return json.dumps(m)


def fh_msg(symbol="AAPL", t=1704205200000, p=100.5, v=10, c=None):
    return json.dumps({"c": c or ["1"], "p": p, "s": symbol, "t": t, "v": v})


@pytest.fixture
def run_to_sink(spark, tmp_path):
    def _run(pipeline_fn, messages, name, run_twice=False):
        src = tmp_path / f"src_{name}"
        write_json_fixture(str(src), messages)
        sink = str(tmp_path / f"sink_{name}")

        def once(cp):
            raw = kafka_shaped_file_stream(spark, str(src))
            q = start_idempotent_parquet_sink(
                pipeline_fn(raw), sink, str(tmp_path / cp), available_now=True
            )
            q.awaitTermination(120)

        once("cp1")
        if run_twice:
            once("cp2")  # fresh checkpoint → full re-read → replays every message
        # sink_date is the sink's storage partitioning, not pipeline output
        return spark.read.parquet(sink).drop(PARTITION_COL)

    return _run


class TestYfinancePipeline:
    def test_rename_contract_and_gate(self, run_to_sink):
        msgs = [
            yf_msg("AAPL", 0),
            yf_msg("MSFT", 0),
            yf_msg("AAPL", 0, volume=0),  # validity gate: Volume>0
            yf_msg(minute=1, ticker=None),  # validity gate: ticker NOT NULL
            "{not json",  # malformed → NULL struct → gated
        ]
        out = run_to_sink(yfinance_pipeline, msgs, "yf_contract")
        assert tuple(out.columns) == STOCK_DATA_COLUMNS
        rows = {r["ticker"]: r for r in out.collect()}
        assert set(rows) == {"AAPL", "MSFT"}
        a = rows["AAPL"]
        assert a["close"] == pytest.approx(101.5)
        assert a["volume"] == 1000
        assert a["datetime"].isoformat().startswith("2024-01-02T14:00")
        assert len(a["id"]) == 64  # sha2-256 hex, not uuid

    def test_idempotent_replay(self, run_to_sink):
        msgs = [yf_msg("AAPL", m) for m in range(5)] + [yf_msg("AAPL", 2)]  # dup msg
        out = run_to_sink(yfinance_pipeline, msgs, "yf_idem", run_twice=True)
        # 5 distinct bars; the in-batch dup and the full second replay both
        # collapse via the deterministic key + anti-join sink
        assert out.count() == 5
        assert out.select("id").distinct().count() == 5


class TestFinnhubPipeline:
    def test_epoch_conversion_kept(self, run_to_sink):
        out = run_to_sink(finnhub_pipeline, [fh_msg(t=1704205201500)], "fh_epoch")
        assert tuple(out.columns) == STOCK_TRADE_COLUMNS
        row = out.collect()[0]
        # 1704205201500 ms = 2024-01-02T14:20:01.5Z — the conversion the
        # reference computed then dropped (SURVEY §2.8 F1) must be KEPT
        assert row["datetime"].isoformat() == "2024-01-02T14:20:01.500000"
        assert row["last_price"] == pytest.approx(100.5)
        assert row["trade_conditions"] == ["1"]

    def test_tuple_key_dedup(self, run_to_sink):
        msgs = [
            fh_msg(t=1704205200000, p=100.5, v=10),
            fh_msg(t=1704205200000, p=100.5, v=10),  # exact dup (producer key)
            fh_msg(t=1704205200000, p=100.5, v=11),  # differs in v → kept
            fh_msg(t=1704205260000, p=100.5, v=10),  # differs in t → kept
            fh_msg(v=0),  # validity gate: v>0
            fh_msg(symbol=None),  # validity gate: s NOT NULL
        ]
        out = run_to_sink(finnhub_pipeline, msgs, "fh_dedup")
        assert out.count() == 3

    def test_streaming_dedup_is_stateful(self, spark, tmp_path):
        """Duplicates across micro-batches are dropped by the watermarked
        state store, not just within a batch."""
        src = tmp_path / "src_multi"
        write_json_fixture(str(src), [fh_msg(t=1704205200000)], "f1.json")
        write_json_fixture(str(src), [fh_msg(t=1704205200000), fh_msg(t=1704205260000)], "f2.json")
        raw = kafka_shaped_file_stream(spark, str(src), max_files_per_trigger=1)
        sink = str(tmp_path / "sink_multi")
        q = start_idempotent_parquet_sink(
            finnhub_pipeline(raw), sink, str(tmp_path / "cp_multi"), available_now=True
        )
        q.awaitTermination(120)
        assert spark.read.parquet(sink).count() == 2

    def test_sink_antijoin_scan_is_partition_bounded(self, spark, tmp_path):
        """The anti-join's existing-keys scan must touch only the event-date
        partitions spanned by the incoming batch — never all sink history."""
        import datetime

        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
            existing_keys_in_range,
        )

        sink = str(tmp_path / "sink_bounded")
        # seed 10 days of history directly in the sink layout
        rows = [
            (f"id{d}_{i}", datetime.datetime(2024, 1, 1 + d, 12, 0))
            for d in range(10)
            for i in range(3)
        ]
        (
            spark.createDataFrame(rows, ["id", "datetime"])
            .withColumn(PARTITION_COL, F.to_date("datetime"))
            .write.partitionBy(PARTITION_COL)
            .parquet(sink)
        )
        scan = existing_keys_in_range(
            spark, sink, "id", datetime.date(2024, 1, 9), datetime.date(2024, 1, 10)
        )
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "sink_date" in plan.split("PartitionFilters")[1].split("]")[0], (
            "existing-keys scan has no partition filter on sink_date:\n" + plan[:2000]
        )
        assert scan.count() == 6  # 2 days x 3 rows, not 30


def test_stream_to_lake_to_analytics_end_to_end(spark, tmp_path):
    """The full path a production tick takes: Kafka-shaped replay →
    decode/rename/dedup pipeline → idempotent lake sink → BATCH
    analytics over the landed table. The bars computed from the lake
    must equal the bars computed directly on the parsed input — the sink
    neither loses, duplicates, nor mangles rows (including under a full
    second replay), so the streaming and batch surfaces compose."""
    from pyspark.sql import functions as F

    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        finnhub_pipeline,
    )

    base = 1704205200000
    msgs = [
        fh_msg(
            symbol=("AAPL" if i % 3 else "MSFT"),
            t=base + i * 7000,  # spans several minutes
            p=100.0 + (i % 11) * 0.5,
            v=1 + i % 5,
        )
        for i in range(200)
    ]
    src = tmp_path / "e2e_src"
    write_json_fixture(str(src), msgs)
    sink = str(tmp_path / "e2e_sink")
    for cp in ("cp1", "cp2"):  # second run = full replay, must be a no-op
        q = start_idempotent_parquet_sink(
            finnhub_pipeline(kafka_shaped_file_stream(spark, str(src))),
            sink,
            str(tmp_path / cp),
            available_now=True,
        )
        q.awaitTermination(120)

    def bars(df):
        return sorted(
            map(
                tuple,
                df.groupBy("symbol", F.window("datetime", "1 minute").start.alias("m"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("volume").alias("vol"),
                    F.min_by("last_price", "datetime").alias("open"),
                    F.max_by("last_price", "datetime").alias("close"),
                )
                .collect(),
            )
        )

    landed = spark.read.parquet(sink)
    direct = finnhub_pipeline(
        spark.read.text(str(src)).select(F.col("value").cast("string").alias("value"))
    )
    assert landed.count() == direct.count() == 200
    assert bars(landed) == bars(direct)


def test_ingest_observation_counts_gate_drops(spark, tmp_path):
    """with_ingest_observation reports arrived/about-to-drop counts per
    micro-batch through observedMetrics, without changing the data path:
    7 messages arrive (4 valid, zero-volume + null-symbol + malformed),
    the gate keeps 4, and the observation says n_rows=7 / n_invalid=3."""
    from finance_data_ingestion_pipeline_with_kafka_spark.schemas import FINNHUB_SCHEMA
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        decode_json_stream,
        finnhub_transform,
        with_ingest_observation,
    )

    msgs = [
        fh_msg("AAPL", 1704205200000, 100.0, 10),
        fh_msg("AAPL", 1704205201000, 101.0, 5),
        fh_msg("MSFT", 1704205202000, 300.0, 3),
        fh_msg("MSFT", 1704205203000, 301.0, 4),
        fh_msg("AAPL", 1704205204000, 102.0, 0),  # zero volume -> gated
        fh_msg(None, 1704205205000, 103.0, 7),  # null symbol -> gated
        "this is not json",  # malformed -> all-NULL row -> gated
    ]
    src = tmp_path / "obs_src"
    write_json_fixture(str(src), msgs)
    raw = kafka_shaped_file_stream(spark, str(src))
    decoded = decode_json_stream(raw, FINNHUB_SCHEMA)
    observed = with_ingest_observation(
        decoded, (F.col("v") > 0) & F.col("s").isNotNull()
    )
    out = finnhub_transform(observed, dedup_watermark=None)
    q = (
        out.writeStream.format("memory")
        .queryName("obs_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.sql("SELECT * FROM obs_sink").collect()
    assert len(kept) == 4
    totals = {"n_rows": 0, "n_invalid": 0}
    for progress in q.recentProgress:
        m = (progress.get("observedMetrics") or {}).get("ingest_metrics")
        if m:
            totals["n_rows"] += m["n_rows"]
            totals["n_invalid"] += m["n_invalid"]
    assert totals == {"n_rows": 7, "n_invalid": 3}


CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager_class(spark, path) -> str:
    """Class of the checkpoint file manager Spark builds for ``path``
    under the session's current conf (the same factory the offset,
    commit and state-store logs use)."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getName()


def test_local_master_uses_filesystem_checkpoint_manager(spark, tmp_path):
    """A local-master session writes checkpoints through the FileSystem-
    based manager (plain rename(2), no ``readlink`` fork per rename)."""
    from finance_data_ingestion_pipeline_with_kafka_spark.session import (
        LOCAL_CHECKPOINT_FILE_MANAGER,
        get_spark,
    )

    session = get_spark(master="local[2]", shuffle_partitions=8)
    assert session.conf.get(CHECKPOINT_MANAGER_KEY) == LOCAL_CHECKPOINT_FILE_MANAGER
    assert _checkpoint_manager_class(session, tmp_path / "cp") == LOCAL_CHECKPOINT_FILE_MANAGER
    # integrity checks stay on
    assert session.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"


def test_checkpoint_manager_choice_by_master_and_extra_conf(monkeypatch):
    """``extra_conf`` overrides the local default, and a cluster master
    keeps Spark's default manager. Read from the builder's options, so the
    shared test session is not re-configured."""
    from pyspark.sql import SparkSession

    from finance_data_ingestion_pipeline_with_kafka_spark.session import (
        LOCAL_CHECKPOINT_FILE_MANAGER,
        get_spark,
    )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    assert get_spark(master="local[2]")[CHECKPOINT_MANAGER_KEY] == LOCAL_CHECKPOINT_FILE_MANAGER
    file_context = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    overridden = get_spark(master="local[2]", extra_conf={CHECKPOINT_MANAGER_KEY: file_context})
    assert overridden[CHECKPOINT_MANAGER_KEY] == file_context
    assert CHECKPOINT_MANAGER_KEY not in get_spark(master="spark://cluster:7077")


def _finnhub_batch(spark, n=40, day=0):
    """A static batch with the finnhub pipeline's exact output schema."""
    from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import (
        finnhub_pipeline,
    )

    base = 1704205200000 + day * 86_400_000
    msgs = [fh_msg("AAPL" if i % 2 else "MSFT", base + i * 1000, 100.0 + i, 1 + i) for i in range(n)]
    return finnhub_pipeline(spark.createDataFrame([(m,) for m in msgs], ["value"]))


def _wide_batch(spark, n, first=0):
    """A batch of another shape: a LONG key named ``trade_key``, event
    time ``event_ts`` on one day, and 40 payload columns."""
    extra = [F.col("k").cast("double").alias(f"x{i}") for i in range(20)] + [
        F.concat(F.lit(f"s{i}-"), F.col("k").cast("string")).alias(f"s{i}") for i in range(20)
    ]
    return spark.range(first, first + n).toDF("k").select(
        F.col("k").alias("trade_key"),
        (F.lit(1704205200).cast("long") + F.col("k")).cast("timestamp").alias("event_ts"),
        *extra,
    )


def _parquet_files(sink):
    return sorted(pathlib.Path(sink).rglob("*.parquet"))


class TestIdempotentSinkReplay:
    """Exactly-once under a replayed micro-batch: a crash between the
    sink write and the offset commit makes Spark re-run the same batch
    id with the same rows. The second call must append nothing."""

    def _sunk_once(self, spark, sink, key, expected_keys):
        landed = spark.read.parquet(sink)
        keys = [r[0] for r in landed.select(key).collect()]
        assert len(keys) == len(set(keys)), "a key was sunk twice"
        assert set(keys) == set(expected_keys)

    def test_finnhub_batch_replayed(self, spark, tmp_path):
        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
            foreach_batch_idempotent_parquet,
        )

        sink = str(tmp_path / "sink")
        write = foreach_batch_idempotent_parquet(sink)
        batch = _finnhub_batch(spark)
        ids = [r[0] for r in batch.select("id").collect()]
        write(batch, 7)
        write(batch, 7)  # the replay
        self._sunk_once(spark, sink, "id", ids)
        assert len(ids) == 40

    @pytest.mark.parametrize("ts_col", ["event_ts", None])
    def test_wide_batch_with_other_key_replayed(self, spark, tmp_path, ts_col):
        """Extra columns and a non-``id``, non-string key: the sunk-key
        read takes its schema from the batch, so it works for any shape.
        The replay also overlaps a later batch's keys."""
        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
            foreach_batch_idempotent_parquet,
        )

        sink = str(tmp_path / "sink")
        write = foreach_batch_idempotent_parquet(sink, key="trade_key", ts_col=ts_col)
        first, second = _wide_batch(spark, 50), _wide_batch(spark, 50, first=30)
        write(first, 0)
        write(first, 0)  # replay of batch 0
        write(second, 1)  # 20 of its keys are already sunk
        write(second, 1)  # replay of batch 1
        self._sunk_once(spark, sink, "trade_key", range(80))
        landed = spark.read.parquet(sink)
        assert landed.where(F.col("trade_key") == 42).first()["s3"] == "s3-42"

    def test_sunk_key_read_runs_no_job(self, spark, tmp_path):
        """The sunk keys are read with an explicit schema: building the
        anti-join input runs no parquet schema-inference job."""
        import datetime

        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
            existing_keys_in_range,
            foreach_batch_idempotent_parquet,
        )

        sink = str(tmp_path / "sink")
        foreach_batch_idempotent_parquet(sink)(_finnhub_batch(spark), 0)
        sc = spark.sparkContext
        sc.setJobGroup("sink-key-read", "existing_keys_in_range")
        try:
            keys = existing_keys_in_range(
                spark, sink, "id", datetime.date(2024, 1, 2), datetime.date(2024, 1, 2)
            )
        finally:
            sc.setJobGroup(None, None)
        assert len(sc.statusTracker().getJobIdsForGroup("sink-key-read")) == 0
        assert keys.count() == 40


class TestSinkFileSizing:
    """Output files are sized from the batch's rows and schema
    (``StructType.defaultSize``), not from one schema's row width."""

    def test_finnhub_batch_writes_one_file_up_to_62_5k_rows(self, spark):
        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
            PARTITION_COL,
            _sink_files,
        )

        sunk = _finnhub_batch(spark, n=1).withColumn(PARTITION_COL, F.to_date("datetime"))
        assert _sink_files(sunk, 62_500) == 1
        assert _sink_files(sunk, 100_000_000) > 100

    @pytest.mark.parametrize("ts_col", ["event_ts", None])
    def test_wide_schema_file_count(self, spark, tmp_path, monkeypatch, ts_col):
        """With the file target shrunk to 64 kB, 600 wide rows split into
        the files their schema's row size asks for, while the same number
        of finnhub rows still fits one file."""
        from finance_data_ingestion_pipeline_with_kafka_spark.streaming import sinks

        monkeypatch.setattr(sinks, "_SINK_FILE_BYTES", 64 << 10)
        wide = _wide_batch(spark, 600)
        row_bytes = wide._jdf.schema().defaultSize() + (4 if ts_col else 0)  # + sink_date
        expected = 600 * row_bytes // (64 << 10) + 1
        assert expected >= 3
        sink = str(tmp_path / "wide")
        sinks.foreach_batch_idempotent_parquet(sink, key="trade_key", ts_col=ts_col)(wide, 0)
        assert len(_parquet_files(sink)) == expected
        assert spark.read.parquet(sink).count() == 600

        narrow = str(tmp_path / "narrow")
        sinks.foreach_batch_idempotent_parquet(narrow)(_finnhub_batch(spark, n=600), 0)
        assert len(_parquet_files(narrow)) == 1
