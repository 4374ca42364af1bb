"""Streaming sinks (SURVEY §2.1 S2/S3, §2.9 T1–T3, T11).

The reference appends into Cassandra from ``foreachBatch`` with a random
``uuid()`` key — a re-processed micro-batch lands duplicate rows
(at-least-once, SURVEY §4). Here the parity sink is ``foreachBatch`` into
parquet with a deterministic ``id`` and an anti-join against already-sunk
keys → effectively-once. At lake scale the anti-join is replaced by a
Delta/Iceberg ``MERGE`` on ``id``; the pipeline contract is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import DataType, DateType, StringType, StructField, StructType


#: Event-date partition column added by the idempotent sink (storage
#: layout, not part of the pipeline's rename contract).
PARTITION_COL = "sink_date"

#: Output-file sizing for the idempotent sink (guide §6: files in the
#: 128 MB-1 GB range; micro-batches land nearer the floor). Files target
#: 64 MB of Spark's per-row size estimate for the batch schema, so a
#: 62.5k-row finnhub batch writes ONE file while a 100M-row batch writes
#: ~120 parallel writers, and a wider schema writes proportionally more.
_SINK_FILE_BYTES = 64 << 20


def _sink_has_data(sink_dir: str) -> bool:
    if not os.path.isdir(sink_dir):
        return False
    for root, _dirs, files in os.walk(sink_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _sink_files(df: DataFrame, n_rows: int) -> int:
    """Output files for ``n_rows`` rows of ``df`` at ~``_SINK_FILE_BYTES``
    each. Row bytes are ``StructType.defaultSize`` of the batch schema
    (8 per long/double/timestamp, 20 per string, ...): Spark's own
    estimate, near the measured parquet footprint of the finnhub row
    (60-100 B), and it grows with every column a wider schema adds."""
    row_bytes = df._jdf.schema().defaultSize()
    return n_rows * row_bytes // _SINK_FILE_BYTES + 1


def existing_keys_in_range(
    spark, sink_dir: str, key: str, lo, hi, horizon_days: int = 0,
    key_type: DataType = StringType(),
) -> DataFrame:
    """Keys already sunk in event-date partitions [lo - horizon, hi] —
    a partition-pruned scan (PartitionFilters on ``sink_date``), so
    per-batch anti-join cost is bounded by the horizon window, never by
    total sink history.

    The read carries an explicit two-field schema, ``key`` (of
    ``key_type``; the engine's deterministic keys are sha2 hex strings)
    plus ``sink_date DATE``, so no batch pays a parquet footer-inference
    job, and the read is the same whatever else the sunk rows carry."""
    schema = StructType(
        [StructField(key, key_type), StructField(PARTITION_COL, DateType())]
    )
    existing = spark.read.schema(schema).parquet(sink_dir)
    return existing.where(
        (F.col(PARTITION_COL) >= F.date_sub(F.lit(lo), horizon_days))
        & (F.col(PARTITION_COL) <= F.lit(hi))
    ).select(key)


def foreach_batch_idempotent_parquet(
    sink_dir: str, key: str = "id", ts_col: str = "datetime", horizon_days: int = 0
):
    """Build a ``foreachBatch`` function appending only not-yet-sunk rows.

    Shape parity with dags/...yfinance...py:272-279 (foreachBatch → batch
    append), plus idempotence: batch-local dedup on ``key`` then anti-join
    against already-sunk keys. Re-running a batch (a crash between the
    sink write and the offset commit replays it) appends nothing.

    Scale contract: the sink is hive-partitioned by event date
    (``sink_date = to_date(ts_col)``) and the anti-join reads ONLY the
    partitions spanning the incoming batch's own date range (± an optional
    ``horizon_days`` slack). The dedup ``key`` is a deterministic hash that
    includes ``ts_col``, so any exact duplicate lands in the same event-date
    partition as its original — the pruned scan cannot miss it. Per-batch
    cost is therefore O(rows in the touched date partitions), independent
    of total sink history (a long-running stream's sink grows without
    making batches slower). At lake scale the same contract is a
    Delta/Iceberg ``MERGE`` keyed on (sink_date, id).

    ``ts_col=None`` falls back to the unpartitioned full-history anti-join
    (only for keys not derived from an event time).

    Either way the sunk keys are read with the batch's own key field as
    an explicit schema (no per-batch schema-inference job), and the
    output files are sized from the batch's row count and schema
    (``_sink_files``).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key_field = batch_df.schema[key]
        fresh = batch_df.dropDuplicates([key])
        if ts_col is not None:
            fresh = fresh.withColumn(PARTITION_COL, F.to_date(F.col(ts_col)))
        fresh = fresh.persist()
        try:
            out = fresh
            if ts_col is None:
                n_rows = fresh.count()
                if _sink_has_data(sink_dir):
                    existing = spark.read.schema(StructType([key_field])).parquet(sink_dir)
                    out = fresh.join(existing, on=key, how="left_anti")
            else:
                # row count rides the SAME action as the date bounds (free):
                # it sizes the output files below
                bounds = fresh.agg(
                    F.min(PARTITION_COL).alias("lo"),
                    F.max(PARTITION_COL).alias("hi"),
                    F.count(F.lit(1)).alias("n"),
                ).first()
                n_rows = bounds["n"]
                if _sink_has_data(sink_dir) and bounds["lo"] is not None:
                    existing = existing_keys_in_range(
                        spark, sink_dir, key, bounds["lo"], bounds["hi"], horizon_days,
                        key_field.dataType,
                    )
                    out = fresh.join(existing, on=key, how="left_anti")
            # Output-file sizing (r17, guide §6): without it every batch
            # wrote one file per post-shuffle partition (32 ~90 kB files
            # per 62.5k-row batch — 256 sink files after one replay),
            # and every LATER batch's anti-join re-listed and re-opened
            # all of them, so batch time grew with sink history. A
            # repartition, not coalesce, so the anti-join upstream keeps
            # its parallelism (coalesce would fuse and cap it).
            writer = out.repartition(_sink_files(fresh, n_rows)).write.mode("append")
            if ts_col is not None:
                writer = writer.partitionBy(PARTITION_COL)
            writer.parquet(sink_dir)
        finally:
            fresh.unpersist()

    return _write


def start_idempotent_parquet_sink(
    df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    key: str = "id",
    ts_col: str = "datetime",
    horizon_days: int = 0,
) -> StreamingQuery:
    """writeStream → foreachBatch idempotent parquet append.

    ``availableNow`` drains all available input then stops — the
    deterministic test/replay trigger (SURVEY §2.9 T1); pass False for the
    reference's continuous processing-time trigger. Checkpointing is
    mandatory (T3): offsets + state survive restarts.

    Output mode is ``append`` — the reference declares ``update`` on a
    stateless query, which executes as append anyway (SURVEY §7.6).
    """
    writer = (
        df.writeStream.outputMode("append")
        .foreachBatch(foreach_batch_idempotent_parquet(sink_dir, key, ts_col, horizon_days))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_kafka_passthrough_sink(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """T11: the declared-but-never-wired Kafka output
    (SparkProcessOperator.py:26-30) — serialize all columns to JSON and
    publish. Requires a broker; exercised only when one is configured."""
    payload = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    writer = (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_memory_sink(
    df: DataFrame, name: str, output_mode: str = "append", available_now: bool = True
) -> StreamingQuery:
    """In-memory table sink for tests/debug."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: Hash-bucket partition column of the latest-snapshot sink.
SNAPSHOT_BUCKET_COL = "snap_bucket"


def foreach_batch_upsert_snapshot(
    sink_dir: str, key: str = "symbol", ts_col: str = "datetime", n_buckets: int = 64
):
    """``foreachBatch`` maintaining a LATEST-ROW-PER-KEY snapshot — the
    streaming MERGE/upsert shape (the reference's Cassandra sink is
    semantically this: last write per primary key wins; here the winner
    is the max event time, so replays and out-of-order batches converge
    to the same snapshot instead of last-arrival-wins).

    Layout: the snapshot is hive-partitioned by ``pmod(hash(key),
    n_buckets)``. Each batch (1) elects its own per-key latest via
    ``max_by`` over event time, (2) reads ONLY the buckets its keys
    touch (partition-pruned), (3) re-elects the per-key max over
    old ∪ new, and (4) dynamically overwrites just those buckets
    (``partitionOverwriteMode=dynamic``). Per-batch cost ∝ touched-bucket
    size, never total snapshot size. Convergence is order-independent:
    max_by over a total order (ts, then key-hash of the full row) makes
    re-delivery and late batches idempotent — an OLDER row can never
    replace a newer snapshot entry. At lake scale the same contract is a
    Delta/Iceberg ``MERGE``; this is the no-table-format formulation."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = batch_df.columns
        order = F.struct(
            F.col(ts_col),
            # total-order tiebreak for equal event times: deterministic
            # content hash, so both replicas of a replay pick the same row
            F.xxhash64(*[F.col(c) for c in cols]).alias("tb"),
        )
        bucket = F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).alias(SNAPSHOT_BUCKET_COL)

        def elect(df: DataFrame) -> DataFrame:
            return (
                df.groupBy(key)
                .agg(F.max_by(F.struct(*[F.col(c) for c in cols]), order).alias("r"))
                .select("r.*")
            )

        fresh = elect(batch_df).withColumn(SNAPSHOT_BUCKET_COL, bucket).persist()
        try:
            merged = fresh
            if _sink_has_data(sink_dir):
                touched = [r[0] for r in fresh.select(SNAPSHOT_BUCKET_COL).distinct().collect()]
                existing = (
                    spark.read.parquet(sink_dir)
                    .where(F.col(SNAPSHOT_BUCKET_COL).isin(touched))
                    .select(*cols, SNAPSHOT_BUCKET_COL)
                )
                merged = (
                    elect(fresh.select(*cols).unionByName(existing.select(*cols)))
                    .withColumn(SNAPSHOT_BUCKET_COL, bucket)
                )
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                merged.write.mode("overwrite").partitionBy(SNAPSHOT_BUCKET_COL).parquet(
                    sink_dir
                )
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        finally:
            fresh.unpersist()

    return _write


def start_upsert_snapshot_sink(
    df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    key: str = "symbol",
    ts_col: str = "datetime",
    n_buckets: int = 64,
) -> StreamingQuery:
    """writeStream → foreachBatch latest-per-key snapshot upsert (see
    ``foreach_batch_upsert_snapshot``). Checkpointing mandatory (T3)."""
    writer = (
        df.writeStream.outputMode("update")
        .foreachBatch(
            foreach_batch_upsert_snapshot(sink_dir, key, ts_col, n_buckets)
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
