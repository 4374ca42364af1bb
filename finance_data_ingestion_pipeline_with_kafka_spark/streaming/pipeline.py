"""The reference's streaming pipelines, Spark-first (SURVEY §2.2 P1–P6,
§2.8 F1–F2, §2.9 T4).

Transform chain parity with dags/ingestion_yfinance_data_to_cassandra_db.py:254-269
and dags/ingestion_finnhub_data_to_cassandra_db.py:249-260, with the three
documented fixes (SURVEY §7):

* deterministic ``sha2`` surrogate key instead of ``uuid()`` → idempotent
  replay (§7.2);
* the epoch-millis→timestamp conversion is KEPT (the reference drops it,
  §2.8 F1);
* the validity gate runs INSIDE the stream (the reference runs it in an
  Airflow sensor before Spark, §2.2 P6);
* producer-side in-memory dedup becomes ``dropDuplicates(["id"])`` on a
  watermarked stream (§2.9 T4). The state is a checkpointed state store,
  not producer memory, but it is NOT bounded: the dedup key leaves out the
  event-time column, so Spark never evicts a key and the store holds one
  row per distinct tick ever seen. The watermark only drops input rows
  more than ``dedup_watermark`` late.

Every function is pure ``DataFrame → DataFrame`` (the signature the
reference's stubs declare, yfinance_processing.py:30) and works on both
batch and streaming frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.core import deterministic_id, epoch_millis_to_ts
from ..schemas import FINNHUB_SCHEMA, YFINANCE_SCHEMA


def decode_json_stream(raw: DataFrame, schema: StructType) -> DataFrame:
    """P1+P2+P3: value string → ``from_json`` against the declared schema →
    flatten. Malformed messages yield a NULL struct whose fields are NULL —
    the downstream validity predicate drops them."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("data")
    ).select("data.*")


def yfinance_transform(df: DataFrame) -> DataFrame:
    """P4+P5+P6: the yfinance rename contract
    (dags/...yfinance...py:257-268) + deterministic key + validity gate
    (Volume>0 AND ticker IS NOT NULL, dags/...yfinance...py:91)."""
    renamed = df.select(
        F.col("Datetime").alias("datetime"),
        F.col("Open").alias("open"),
        F.col("High").alias("high"),
        F.col("Low").alias("low"),
        F.col("Close").alias("close"),
        F.col("Adj Close").alias("adj_close"),
        F.col("Volume").alias("volume"),
        F.col("Dividends").alias("dividends"),
        F.col("Stock Splits").alias("stock_splits"),
        F.col("ticker").alias("ticker"),
    )
    gated = renamed.filter((F.col("volume") > 0) & F.col("ticker").isNotNull())
    return gated.withColumn("id", deterministic_id("ticker", "datetime")).select(
        "id",
        "datetime",
        "open",
        "high",
        "low",
        "close",
        "adj_close",
        "volume",
        "dividends",
        "stock_splits",
        "ticker",
    )


def finnhub_transform(df: DataFrame, dedup_watermark: str | None = "10 minutes") -> DataFrame:
    """Finnhub rename contract (dags/...finnhub...py:253-259) with the
    converted timestamp KEPT, validity gate (v>0 AND s IS NOT NULL,
    dags/...finnhub...py:91), deterministic key over the producer's dedup
    tuple (str(c),p,s,t,v) (StockFinnhubMetrics.py:82-88), and stateful
    dedup on that key behind a ``dedup_watermark`` event-time watermark.

    The watermark drops input ticks that arrive more than
    ``dedup_watermark`` behind the latest event time seen, but it evicts no
    dedup state: ``dropDuplicates(["id"])`` does not name the event-time
    column, so every distinct ``id`` stays in the state store for the life
    of the checkpoint (like the producer's in-memory set, but checkpointed
    and restart-safe). Bounding it would mean adding ``datetime`` to the
    dedup columns, which also changes which late ticks are dropped."""
    renamed = df.select(
        F.col("c").alias("trade_conditions"),
        F.col("p").alias("last_price"),
        F.col("s").alias("symbol"),
        epoch_millis_to_ts("t").alias("datetime"),
        F.col("v").alias("volume"),
    )
    gated = renamed.filter((F.col("volume") > 0) & F.col("symbol").isNotNull())
    keyed = gated.withColumn(
        "id",
        F.sha2(
            F.concat_ws(
                "§",
                F.to_json(F.col("trade_conditions")),
                F.col("last_price").cast("string"),
                F.col("symbol"),
                F.col("datetime").cast("string"),
                F.col("volume").cast("string"),
            ),
            256,
        ),
    )
    if dedup_watermark is not None and keyed.isStreaming:
        keyed = keyed.withWatermark("datetime", dedup_watermark).dropDuplicates(["id"])
    elif dedup_watermark is not None:
        keyed = keyed.dropDuplicates(["id"])
    return keyed.select(
        "id", "trade_conditions", "last_price", "symbol", "datetime", "volume"
    )


def yfinance_pipeline(raw: DataFrame) -> DataFrame:
    """Full yfinance chain: CAST → from_json → flatten → rename → gate → key."""
    return yfinance_transform(decode_json_stream(raw, YFINANCE_SCHEMA))


def finnhub_pipeline(raw: DataFrame, dedup_watermark: str | None = "10 minutes") -> DataFrame:
    """Full finnhub chain incl. watermarked dedup."""
    return finnhub_transform(decode_json_stream(raw, FINNHUB_SCHEMA), dedup_watermark)


def with_ingest_observation(
    df: DataFrame, valid: F.Column, name: str = "ingest_metrics"
) -> DataFrame:
    """P6 instrumentation: attach Spark *observed metrics* to the decoded
    stream BEFORE the validity gate, so every micro-batch reports how many
    rows arrived and how many the gate is about to drop (malformed JSON
    decodes to all-NULL rows, so it lands in ``n_invalid`` too). The
    counts surface in each ``StreamingQueryProgress.observedMetrics``
    under ``name`` — the operational feed a production ingest graphs and
    alerts on (reference's pipelines have no equivalent; their validity
    check runs in an Airflow sensor and drops silently, SURVEY §2.2 P6).

    ``observe`` computes the aggregates inside the running query — no
    second scan of the source, works identically on batch frames (via
    the same named observation). Zero effect on the data path: the
    returned frame is row-identical to the input."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(valid, F.lit(0)).otherwise(F.lit(1)))
        .cast("long")
        .alias("n_invalid"),
    )
