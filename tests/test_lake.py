"""Lake-layout tests: partition pruning and bucketed shuffle-free joins —
the two plan properties the 100 TB design depends on (SURVEY §4) — and
table opens: the engine's lake copy, its staleness rule, and scan sharing
between a session and its policy children.
"""

import os
import shutil
import sys
import threading
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from finance_data_ingestion_pipeline_with_kafka_spark import catalog
from finance_data_ingestion_pipeline_with_kafka_spark.catalog import load_table
from finance_data_ingestion_pipeline_with_kafka_spark.plans import executed_plan
from finance_data_ingestion_pipeline_with_kafka_spark.sources.lake import (
    create_table_ddl,
    write_bucketed,
    write_partitioned,
)

from .test_registry_cache import _adaptive, _exchange_widths


def test_partition_pruning(spark, sf_dir, tmp_path):
    lake = str(tmp_path / "events_lake")
    events = load_table(spark, sf_dir, "events")
    write_partitioned(events, lake, ["event_type"])
    # hive-style directories exist
    assert any(d.startswith("event_type=") for d in os.listdir(lake))

    filtered = spark.read.parquet(lake).filter(F.col("event_type") == "click")
    p = executed_plan(filtered)
    assert "PartitionFilters" in p and "event_type" in p.split("PartitionFilters:")[1].split("]")[0]
    # pruned read returns exactly the partition's rows
    expected = events.filter(F.col("event_type") == "click").count()
    assert filtered.count() == expected


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed(orders, "b_orders", "o_orderkey", 8, sort_col="o_orderkey")
        write_bucketed(lineitem, "b_lineitem", "o_orderkey", 8, sort_col="o_orderkey")
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        p = executed_plan(joined)
        assert "Exchange" not in p, f"bucketed join still shuffles:\n{p[:1500]}"
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_create_table_ddl(spark, tmp_path):
    loc = str(tmp_path / "ddl_tbl")
    create_table_ddl(
        spark, "stock_data_ddl", "id STRING, datetime TIMESTAMP, close FLOAT, ticker STRING", loc
    )
    try:
        assert spark.catalog.tableExists("stock_data_ddl")
        # idempotent (IF NOT EXISTS — the reference's bootstrap contract)
        create_table_ddl(
            spark,
            "stock_data_ddl",
            "id STRING, datetime TIMESTAMP, close FLOAT, ticker STRING",
            loc,
        )
        cols = [f.name for f in spark.table("stock_data_ddl").schema.fields]
        assert cols == ["id", "datetime", "close", "ticker"]
    finally:
        spark.sql("DROP TABLE IF EXISTS stock_data_ddl")


def test_training_shards_balanced_and_deterministic(spark, sf_dir, tmp_path):
    from finance_data_ingestion_pipeline_with_kafka_spark.sources.lake import (
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=8, shard_key="doc_id")
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    sizes = {r["shard"]: r["count"] for r in back.groupBy("shard").count().collect()}
    assert len(sizes) == 8
    # hash-uniform: no shard more than 3x the smallest (tiny-sample slack)
    assert max(sizes.values()) <= 3 * min(sizes.values())
    # deterministic: same row -> same shard on rewrite
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, n_shards=8, shard_key="doc_id")
    a = {r["doc_id"]: r["shard"] for r in back.select("doc_id", "shard").collect()}
    b = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(out2).select("doc_id", "shard").collect()
    }
    assert a == b


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from finance_data_ingestion_pipeline_with_kafka_spark.sources.lake import (
        compact_small_files,
    )

    out = str(tmp_path / "fragmented")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(40).write.parquet(out)  # 40 tiny files
    n_before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_before == 40
    n_target = compact_small_files(spark, out)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after == n_target < n_before
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)


def test_replicate_shifted_matches_union_semantics(spark, sf_dir):
    """Generator-based replication (explode over a single scan branch)
    must produce exactly the multiset a rep-way key-shifted UNION ALL
    would: every row appears rep times, copy k with its surrogate keys
    shifted by k*KEY_SHIFT and all other columns untouched."""
    from finance_data_ingestion_pipeline_with_kafka_spark.catalog import (
        KEY_SHIFT,
        load_table,
    )

    rep = 3
    base = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    got = (
        load_table(spark, sf_dir, "orders", replicate=rep)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .toPandas()
        .sort_values(["o_orderkey", "o_custkey"])
        .reset_index(drop=True)
    )
    import pandas as pd

    b = base.toPandas()
    copies = []
    for k in range(rep):
        c = b.copy()
        c["o_orderkey"] = c["o_orderkey"] + k * KEY_SHIFT
        c["o_custkey"] = c["o_custkey"] + k * KEY_SHIFT
        copies.append(c)
    want = (
        pd.concat(copies)
        .sort_values(["o_orderkey", "o_custkey"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_replicate_keeps_single_scan_branch(spark, sf_dir):
    """The replicated plan must contain exactly ONE parquet scan of the
    table (generator replication), not N union branches — N branches
    means N decodes of the same bytes and N cold codegen stages."""
    from finance_data_ingestion_pipeline_with_kafka_spark.catalog import load_table

    df = load_table(spark, sf_dir, "lineitem", replicate=30).filter(
        "l_quantity > 0"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one lineitem scan + the tiny Range spine; never N union branches
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan


# --- table opens -----------------------------------------------------------

_TZ = "spark.sql.session.timeZone"


@pytest.fixture
def copy_sf(sf_dir, tmp_path, monkeypatch):
    """Lake cache on, lake under ``tmp_path``, and a function that copies
    the fixture dir to ``tmp_path/<sub>/<basename>``. Every table enters
    the lake (at sf0.001 events is below ``_LAKE_CACHE_MIN_BYTES``)."""
    monkeypatch.setenv("ENGINE_LAKE_CACHE", "1")
    monkeypatch.setenv("ENGINE_LAKE_DIR", str(tmp_path / "lake"))
    monkeypatch.setattr(catalog, "_LAKE_CACHE_MIN_BYTES", 0)

    def copy(sub: str) -> str:
        out = tmp_path / sub / os.path.basename(sf_dir.rstrip("/"))
        out.mkdir(parents=True)
        for f in os.listdir(sf_dir):
            shutil.copyfile(os.path.join(sf_dir, f), out / f)
        return str(out)

    return copy


@pytest.fixture
def lake_sf(copy_sf):
    return copy_sf("fixtures")


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"table-open-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "table open")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _forget(spark, sf):
    """Drop ``spark``'s memoized scans of ``sf`` so the next open is a miss."""
    per_session = catalog._SCANS.by_session.get(spark, {})
    for key in [k for k in per_session if k[0] == sf]:
        del per_session[key]


def _lake_parts(sf, name):
    return {f for f in os.listdir(catalog._lake_cache_dir(sf, name)) if f.endswith(".parquet")}


def _same_rows(a, b) -> bool:
    return a.count() == b.count() and a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_current_lake_copy_opens_without_jobs(spark, lake_sf):
    """A current lake copy opens from its schema sidecar: no source read
    and no inference job. It scans the lake dir, has the schema an
    inferring read of the copy gives, and the source's rows; events.ts
    stays TIMESTAMP."""
    tables = ("lineitem", "events")
    for t in tables:
        load_table(spark, lake_sf, t)  # builds the copies
    _forget(spark, lake_sf)
    opened, jobs = _jobs(spark, lambda: {t: load_table(spark, lake_sf, t) for t in tables})
    assert jobs == 0
    for t, df in opened.items():
        dest = catalog._lake_cache_dir(lake_sf, t)
        files = df.inputFiles()
        assert len(files) == catalog._N_LAKE_FILES and all(dest in f for f in files), files
        assert df.schema == spark.read.parquet(dest).schema
        assert _same_rows(df, catalog._source_scan(spark, lake_sf, t))
    assert dict(opened["events"].dtypes)["ts"] == "timestamp"


def test_stale_lake_copy_is_rebuilt(spark, lake_sf):
    """A missing sidecar or a changed source rebuilds the copy; a current
    copy is reused as written."""
    load_table(spark, lake_sf, "lineitem")
    dest = catalog._lake_cache_dir(lake_sf, "lineitem")
    built = _lake_parts(lake_sf, "lineitem")

    def reopen():
        _forget(spark, lake_sf)
        return load_table(spark, lake_sf, "lineitem")

    reopen()
    assert _lake_parts(lake_sf, "lineitem") == built
    os.remove(os.path.join(dest, catalog._SCHEMA_SIDECAR))
    reopen()
    rebuilt = _lake_parts(lake_sf, "lineitem")
    assert rebuilt.isdisjoint(built)
    assert os.path.exists(os.path.join(dest, catalog._SCHEMA_SIDECAR))
    src = os.path.join(lake_sf, "lineitem.parquet")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    df = reopen()
    assert _lake_parts(lake_sf, "lineitem").isdisjoint(rebuilt)
    assert _same_rows(df, spark.read.parquet(src))


def test_same_named_fixture_dirs_read_their_own_rows(spark, copy_sf):
    """Two fixture dirs with one basename share a lake copy path. The copy
    is stamped with its source, so the second dir — truncated, and older
    than the first dir's copy — still reads its own rows, and so does the
    first one after it."""
    a, b = copy_sf("a"), copy_sf("b")
    src_b = os.path.join(b, "lineitem.parquet")
    pq.write_table(pq.read_table(src_b).slice(0, 100), src_b)
    day_ago = os.stat(src_b).st_mtime_ns - 86_400 * 10**9
    os.utime(src_b, ns=(day_ago, day_ago))
    n_a = load_table(spark, a, "lineitem").count()
    assert n_a > 100
    assert load_table(spark, b, "lineitem").count() == 100
    _forget(spark, a)
    assert load_table(spark, a, "lineitem").count() == n_a


@pytest.mark.parametrize("lake_cache", ["1", "0"])
def test_policy_child_reuses_callers_scan(spark, lake_sf, monkeypatch, lake_cache):
    """Once the caller's session has opened lineitem, the first
    pricing_summary call builds on its policy child with zero jobs: the
    child re-homes the caller's scan (same analyzed plan), and the query
    plans at the policy's width."""
    from finance_data_ingestion_pipeline_with_kafka_spark import registry

    monkeypatch.setenv("ENGINE_LAKE_CACHE", lake_cache)
    spec = registry.load_all()["pricing_summary"]
    scan = load_table(spark, lake_sf, "lineitem")
    df, jobs = _jobs(spark, lambda: spec.fn(spark, lake_sf))
    assert jobs == 0
    policy = registry.sized(spark, lake_sf)
    child = df.sparkSession
    assert child is registry.policy_session(spark, policy) and child is not spark
    assert registry.parent_session(child) is spark
    inherited = load_table(child, lake_sf, "lineitem")
    assert inherited.sparkSession is child
    analyzed = [d._jdf.queryExecution().analyzed().toString() for d in (scan, inherited)]
    assert analyzed[0] == analyzed[1]
    assert not _adaptive(df)
    assert _exchange_widths(df) and set(_exchange_widths(df)) == {policy.partitions}


@pytest.mark.parametrize("lake_cache", ["1", "0"])
def test_first_open_pins_utc_inherited_or_opened(spark, lake_sf, monkeypatch, lake_cache):
    """A session outside UTC gets UTC from its first open of a table,
    whether it opens the scan itself or inherits it from its parent."""
    from finance_data_ingestion_pipeline_with_kafka_spark.registry import (
        ExecPolicy,
        policy_session,
    )

    monkeypatch.setenv("ENGINE_LAKE_CACHE", lake_cache)
    want = catalog._source_scan(spark, lake_sf, "events").agg(F.min("ts")).first()[0]
    # the parent opens first; its child (cloned before) inherits the scan
    parent = spark.newSession()
    parent.conf.set(_TZ, "America/New_York")
    child = policy_session(parent, ExecPolicy(False, 3))
    assert child.conf.get(_TZ) == "America/New_York"
    load_table(parent, lake_sf, "events")
    assert parent.conf.get(_TZ) == "UTC" and child.conf.get(_TZ) == "America/New_York"
    events = load_table(child, lake_sf, "events")
    assert child.conf.get(_TZ) == "UTC"
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert events.agg(F.min("ts")).first()[0] == want
    # the child opens first: the open runs on the parent, both pin UTC
    parent = spark.newSession()
    parent.conf.set(_TZ, "America/New_York")
    child = policy_session(parent, ExecPolicy(False, 3))
    events = load_table(child, lake_sf, "events")
    assert child.conf.get(_TZ) == "UTC" and parent.conf.get(_TZ) == "UTC"
    assert events.agg(F.min("ts")).first()[0] == want


def test_threads_opening_a_cold_family_write_its_copy_once(spark, lake_sf):
    """More threads than cores open one cold table on a session and its
    policy children at once: the copy is written once (16 part files),
    and every scan reads the source's rows."""
    from finance_data_ingestion_pipeline_with_kafka_spark.registry import (
        ExecPolicy,
        policy_session,
    )

    parent = spark.newSession()
    family = [parent] + [policy_session(parent, ExecPolicy(False, n)) for n in range(1, 9)]
    sessions = family * 2
    scans = [None] * len(sessions)

    def open_one(i):
        scans[i] = load_table(sessions[i], lake_sf, "lineitem")

    threads = [threading.Thread(target=open_one, args=(i,)) for i in range(len(sessions))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(_lake_parts(lake_sf, "lineitem")) == catalog._N_LAKE_FILES
    n = spark.read.parquet(os.path.join(lake_sf, "lineitem.parquet")).count()
    assert {df.count() for df in scans} == {n}
