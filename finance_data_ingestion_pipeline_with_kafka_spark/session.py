"""SparkSession factory tuned for this engine.

Scale posture (100 TB readiness — SURVEY §4, §7):

* AQE on: runtime partition coalescing, skew-join splitting, join-strategy
  re-planning from actual stats.
* UTC session timezone: timestamp semantics stable across drivers/oracles.
* Arrow-backed pandas interchange for the (rare) Pandas-UDF paths.
* ``shuffle.partitions`` is a knob, not a constant — callers size it to the
  cluster; the local default keeps small-SF latency low while AQE coalesces.
* Local masters write streaming checkpoints through Spark's FileSystem-based
  checkpoint file manager. pip PySpark ships no native libhadoop, so
  Hadoop's local filesystem shells out for ``readlink`` on every
  FileContext rename and for ``chmod`` on every file create. Spark's
  default FileContext manager renames each checkpoint file (and its
  ``.crc``) that way, several forks per file per micro-batch. The
  FileSystem manager renames with ``File.renameTo`` (POSIX ``rename(2)``),
  which on a local disk is as atomic as FileContext's own local rename
  (check, then rename). Checkpoint checksums and ``.crc`` files stay on.
  Cluster masters keep Spark's default, so HDFS keeps its atomic
  ``FileContext.rename``.

On a real cluster the same builder is used with master/memory provided by
the deployer; nothing here assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Checkpoint file manager for local masters (see the module docstring).
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "finance-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("ENGINE_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): coalescing by
        # advisory SIZE alone (false) was measured strangling CPU-heavy
        # reduce stages — at 30× bench volume it coalesced window/sort
        # shuffles to ~3 64 MB partitions on a 32-core box (asof_join
        # 4.7→3.7 s, window_rank_topk 4.3→1.6 s, tfidf 6.4→2.8 s when
        # reverted to true; 1× unchanged). minPartitionSize still guards
        # against sliver partitions at cluster scale.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE runtime shuffle→broadcast conversion threshold, raised from
        # its 10 MB default to 32 MB. Unlike the STATIC threshold (left at
        # 10 MB — planning-time size estimates are unreliable), the
        # adaptive check reads the EXACT shuffle bytes a side produced, so
        # raising it is scale-safe by construction: a side measuring over
        # 32 MB never converts. Measured: TPC-H-Q3-shaped top_revenue
        # (filtered customer⋈orders side ~18 MB at 30×) 1.41 s → 1.03 s
        # at 30× and 0.67 s → 0.36 s at 1×, with the queries whose build
        # sides exceed the limit (regional_revenue at 30×) unchanged.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "33554432")
        # runtime row-level filtering: inject a bloom filter built from the
        # selective side of a shuffle join into the big side's scan — at
        # lake scale this prunes most of the probe-side IO for
        # dim-filtered fact joins (no-op when the build side is too large)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # generated-class cache sized to the CATALOG, not to one query:
        # Spark's default keeps only 100 compiled codegen units, and a
        # 130-query catalog (≫100 whole-stage units) thrashes it — every
        # query re-runs Janino compilation on every invocation. Measured
        # at sf0.1 (20-query interleaved bench loop): scan-agg family
        # 6.3 s → 3.3 s and dedup family 12.5 s → 8.7 s from this one
        # setting. Cost is metaspace for the cached small classes (a few
        # MB); static conf, so it must be set at session build. Resized
        # 2000 → 4096 when the catalog reached 200 queries (~8 units
        # each ≈ 1600 entries left the full-sweep loop within 20% of
        # eviction; same cost model, double the margin).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # events.parquet carries TIMESTAMP(NANOS), which Spark rejects by
        # default; read nanos as long (catalog.load_table truncates to µs).
        # Set here once at build; load_table re-asserts it defensively for
        # externally built sessions (e.g. the driver's vanilla session).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("ENGINE_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", LOCAL_CHECKPOINT_FILE_MANAGER
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
