"""Table catalog over the driver's parquet fixtures (TESTDATA.md).

``load_table`` is a plain columnar parquet scan — Catalyst pushes filters
and prunes columns into the scan (verified in tests/test_plans.py). At
100 TB the same call reads a date/symbol-partitioned parquet lake and
partition pruning applies; nothing in the query layer changes.

Opening a table is metadata-only after its first open in a session
family: scans are memoized per session (``execution.SessionMemo``,
weakly keyed by the session), and a policy child session
(``registry.policy_session``) re-homes its parent's scan instead of
reading parquet footers again. With ``ENGINE_LAKE_CACHE=1`` large tables
are read from the engine's own 16-file lake copy, which opens from a
schema sidecar with no Spark job; the sidecar also stamps the copy with
its source (path, size, mtime), and any mismatch rebuilds it. See
``_SCANS`` and ``_N_LAKE_FILES``.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .execution import SessionMemo, rewrap_analyzed
from .registry import parent_session

#: Oracle-SQL CTE normalizing events.ts to µs precision (DuckDB reads the
#: parquet as TIMESTAMP_NS; Spark-side we truncate nanos → µs identically).
EVENTS_US = "events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

#: Surrogate-key columns shifted per replica when a table is replicated
#: for the scale-crossover bench (TPC-H-style scaling: more orders/
#: customers/parts/documents, not N copies of the same keys — preserves
#: join selectivity so work scales linearly like real data growth).
#: region/nation are true fixed-size dims: never replicated.
KEY_SHIFT_COLS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "region": (),
    "nation": (),
}

#: Key-shift stride — far above any fixture key, far below int64 overflow
#: even at 1000 replicas.
KEY_SHIFT = 10**12

#: Memoized unresolved scans: session → {(sf_dir, table, …): DataFrame}. A
#: DataFrame is an immutable logical plan, so reuse is safe — and it skips
#: the driver-side file listing + parquet footer/schema read that
#: ``spark.read.parquet`` repeats on every call (~100 ms per table, the
#: dominant cost of multi-table plan construction at small SF).
#: A session family — a caller's session plus the policy children
#: ``registry.policy_session`` clones from it — opens each table once: on
#: a miss, a child re-homes its parent's scan (``execution.rewrap_analyzed``,
#: ~5 ms) instead of listing and reading footers again. A child differs
#: from its parent only in the policy keys (AQE, shuffle width, AQE's
#: initial partition count), which no scan reads. 256 per session: ~10
#: tables × few sf dirs × env combos.
_SCANS = SessionMemo(256)

#: Lake-layout ingest (opt-in via ENGINE_LAKE_CACHE=1). The driver's
#: fixtures are written as ONE parquet row group per table, which caps
#: every scan stage — IO, decode, filter, explode, partial aggregation —
#: at ONE task regardless of cores (a single row group is one split).
#: A real deployment never queries someone else's layout: the engine
#: ingests into its own lake (sources/lake.py) and queries that. This
#: cache is that ingest step for the fixture tables: one-time rewrite of
#: each large table into ``_N_LAKE_FILES`` files (→ that many parallel
#: scan tasks), stored under spark-warehouse/. Row order changes
#: (round-robin repartition), which is immaterial: every result compare
#: is order-insensitive and every aggregate/pick in the engine is
#: order-independent by design.
#: Each copy carries a ``_SCHEMA_SIDECAR`` next to ``_SUCCESS``: the
#: source's absolute path, size and ``mtime_ns``, and the schema Spark
#: reads back from the fresh copy. A current copy opens with that schema
#: (``spark.read.schema(...)``): no source read and no footer-inference
#: job, and the same plan an inferring read gives. Any stamp mismatch, or
#: a missing or unreadable sidecar, marks the copy stale and it is
#: rebuilt — so two fixture dirs sharing a basename (hence a copy) never
#: read each other's rows, and a lake built before the sidecar existed is
#: rebuilt once. Spark ignores ``_``-prefixed files, so the sidecar is
#: never read as data.
#: Default OFF so the driver's correctness sweep reads the pristine
#: fixtures; bench.py turns it on (and reports that it did).
_N_LAKE_FILES = 16
_LAKE_CACHE_MIN_BYTES = 100_000  # tiny dims gain nothing from 16 splits
_SCHEMA_SIDECAR = "_schema.json"
#: One staleness check + rebuild at a time, so threads opening a cold
#: table together (a family's sessions, bench's concurrent phase) write
#: its copy once instead of overwriting each other's files.
_LAKE_LOCK = threading.Lock()


def _lake_cache_dir(sf_dir: str, name: str) -> str:
    base = os.environ.get(
        "ENGINE_LAKE_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "spark-warehouse",
            "lakecache",
        ),
    )
    return os.path.join(base, os.path.basename(sf_dir.rstrip("/")), name)


def _source_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture's own parquet, with events.ts normalized to TIMESTAMP."""
    raw = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name != "events":
        return raw
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read under nanosAsLong
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # Plain parquet TIMESTAMP(µs, isAdjustedToUTC=false) infers as
        # TIMESTAMP_NTZ under Spark 4. The session runs in UTC, so the
        # NTZ→LTZ cast is value-preserving and restores the single
        # TimestampType the operators (epoch casts, windows,
        # watermarks) are written against.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw  # already TIMESTAMP(µs), as in the engine's lake copies


def _lake_cached_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """Scan of ``name``'s lake copy, rebuilt first when stale. ``None``
    when the source is missing (its read then raises Spark's
    PATH_NOT_FOUND) or too small to gain from the lake layout."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(src)
    except OSError:
        return None
    if st.st_size < _LAKE_CACHE_MIN_BYTES:
        return None
    dest = _lake_cache_dir(sf_dir, name)
    sidecar = os.path.join(dest, _SCHEMA_SIDECAR)
    stamp = {"source": os.path.abspath(src), "size": st.st_size, "mtime_ns": st.st_mtime_ns}
    with _LAKE_LOCK:
        try:
            with open(sidecar) as f:
                meta = json.load(f)
            if meta["stamp"] == stamp:
                return spark.read.schema(StructType.fromJson(meta["schema"])).parquet(dest)
        except (OSError, ValueError, KeyError, TypeError):
            pass  # no or unreadable sidecar: stale
        _source_scan(spark, sf_dir, name).repartition(_N_LAKE_FILES).write.mode(
            "overwrite"
        ).parquet(dest)
        df = spark.read.parquet(dest)
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"stamp": stamp, "schema": df.schema.jsonValue()}, f)
        os.replace(tmp, sidecar)
        return df


def scan_replicate() -> int:
    """The scan replication factor ``ENGINE_SCAN_REPLICATE`` asks for, 1
    when it is unset. Every reader of the variable goes through here, so
    a value that is not an integer >= 1 raises instead of being read as 1
    by some callers and as itself by others."""
    raw = os.environ.get("ENGINE_SCAN_REPLICATE", "1")
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"ENGINE_SCAN_REPLICATE must be an integer >= 1, got {raw!r}")
    return n


def load_table(spark: SparkSession, sf_dir: str, name: str, replicate: int = 1) -> DataFrame:
    """Columnar scan of a fixture table. ``replicate > 1`` unions N
    key-shifted copies (see ``KEY_SHIFT_COLS``) — TPC-H-style N× data
    growth with preserved join selectivity, used by the bench's
    scale-crossover measurement. Fixed dims (region/nation) never grow."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if replicate == 1:
        # env override lets the bench scale-crossover run the unmodified
        # catalog queries against an N×-replicated scan
        replicate = scan_replicate()
    if not KEY_SHIFT_COLS.get(name, ()):  # fixed-size dims don't grow
        replicate = 1
    lake_cache = os.environ.get("ENGINE_LAKE_CACHE") == "1"
    return _SCANS.get(
        spark, (sf_dir, name, replicate, lake_cache),
        lambda: _open_table(spark, sf_dir, name, replicate, lake_cache),
    )


def _open_table(
    spark: SparkSession, sf_dir: str, name: str, replicate: int, lake_cache: bool
) -> DataFrame:
    """A fresh scan for :func:`load_table`: the parent session's scan
    re-homed onto a policy child, otherwise the lake copy or the source."""
    # Timestamp determinism on externally built sessions (the driver's
    # vanilla session inherits the HOST timezone): every events-derived
    # epoch/window/watermark result — and the TIMESTAMP_NTZ→TIMESTAMP cast
    # in _source_scan — is only oracle-exact when the session runs in UTC.
    # The engine's own builder (session.get_spark) already pins this.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects by
    # default. Read nanos as long and truncate to microseconds — the
    # same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP, so
    # both engines see identical µs values. The engine's own builder
    # (session.get_spark) sets this conf at build time; this guarded set
    # only covers externally built sessions (the driver's vanilla
    # session). Value is a constant "true", so concurrent setters cannot
    # race to different states.
    if (
        name == "events"
        and spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true"
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parent = parent_session(spark)
    df = None
    if parent is not None:
        df = rewrap_analyzed(load_table(parent, sf_dir, name, replicate), spark)
    if df is None:
        # replicate>1 composes with the 16-file layout: replication is a
        # per-row generator (single scan branch), so scan parallelism
        # comes entirely from file splits — 16 tasks each decoding its
        # split ONCE and generating N key-shifted copies
        df = _lake_cached_scan(spark, sf_dir, name) if lake_cache else None
        if df is None:
            df = _source_scan(spark, sf_dir, name)
        if replicate > 1:
            df = _replicate_shifted(df, name, replicate)
    return df


def _replicate_shifted(df: DataFrame, name: str, replicate: int) -> DataFrame:
    """``replicate`` key-shifted copies of every row (shift k·KEY_SHIFT,
    k = 0..replicate-1) — new entities, same distributions.

    Emitted as a single scan branch crossed with a broadcast
    ``range(replicate)`` spine, NOT an N-way plan union: a union of N
    branches re-decodes the same parquet bytes N times AND splits
    execution across N separate codegen stages, each of which must reach
    JIT heat independently — at N=30 that made the scale-crossover
    measure JVM warm-up, not the plan (bimodal 6 s/14 s runs). One
    branch decodes each file split once, generates N copies per row, and
    keeps ONE hot codegen loop; scan parallelism comes from file splits
    (the lake layout), exactly like a real N×-sized lake.

    The spine is a cross JOIN (row-multiplying) rather than an
    ``explode`` generator deliberately: Catalyst's size estimate for
    ``Generate`` is its child's, so an exploded fact table is estimated
    at 1/N its true size and downstream joins mis-plan BROADCAST on an
    N×-fact side (observed driver OOM at N=30). Join stats multiply, so
    the crossed plan is estimated ≥N× — never mis-broadcast."""
    shift_cols = set(KEY_SHIFT_COLS[name])
    spine = df.sparkSession.range(replicate).select(F.col("id").alias("__rep"))
    return df.crossJoin(F.broadcast(spine)).select(
        *[
            (F.col(c) + F.col("__rep") * F.lit(KEY_SHIFT)).alias(c)
            if c in shift_cols
            else F.col(c)
            for c in df.columns
        ]
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a SQL temp view (entry point 2:
    ``spark.sql`` over views — SURVEY §3.3)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
