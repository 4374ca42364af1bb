"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics_scanagg --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is one fresh process: it makes its
inputs (fixed sf0.1 tables, cached under ``.perfbench_work/fixtures``; the
seeded query order or tick stream), builds a session through the engine's
public API, runs the workload for ``--seconds``, checks every output and
prints one JSON line last:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes spans plus per-query detail to
``.perfbench_work/traces/``). Everything a run writes lives under
``.perfbench_work/`` in the repository root; its per-run directory is
deleted at exit. A failed output check prints ``"correct": false`` and
exits 1; a tree without the engine exits 2 without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "finance_data_ingestion_pipeline_with_kafka_spark"
WORKLOADS = ("analytics_scanagg", "tick_stream")
HEAP_SIZE = "2g"

#: End-to-end metrics. All but the memory are CPU time, which the host's
#: steal time does not inflate (cputime.py); the wall-clock set-up, latency
#: and throughput are per-layer metrics. ``setup_s``: engine import,
#: session, registry and lake open. ``cpu_ms_per_op``: per warm query
#: invocation, or per ingested message. ``cold_cpu_s``: the cold pass, or
#: the stream's start and warm-up batch.
END_TO_END = {
    "setup_s": "s", "cpu_ms_per_op": "ms", "cold_cpu_s": "s", "peak_rss_mb": "MB",
}
#: Every per-layer metric, with its unit. A layer a workload does not
#: exercise reports 0 (README.md lists which layers each workload drives).
PER_LAYER = {
    "setup.wall_s": "s",
    "session.get_spark_s": "s", "registry.load_all_s": "s", "catalog.lake_ingest_s": "s",
    "cold.first_pass_s": "s",
    "registry.construct_s": "s", "registry.construct_jobs": "count", "catalyst.plan_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count", "scheduler.idle_share": "ratio",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes", "task.skew": "ratio",
    "collect.execute_collect_s": "s", "collect.result_bytes": "bytes",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "streaming.backlog_files": "count", "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.add_batch_ms_first_quarter": "ms",
    "streaming.add_batch_ms_last_quarter": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.rows_per_batch": "count",
    "streaming.batches": "count", "streaming.latency_p95_ms": "ms",
    "generator.lateness_ms": "ms",
    "state.rows_total_end": "count", "state.memory_bytes_end": "bytes",
    "state.rows_dropped_by_watermark": "count", "state.commit_ms": "ms",
    "state.updates_ms": "ms", "state.removals_ms": "ms",
    "sinks.foreach_batch_ms": "ms", "sinks.files_written": "count",
    "sinks.bytes_written": "bytes", "sinks.rows_written": "count",
    "stateful.msgs_per_s": "1/s", "stateful.add_batch_ms": "ms",
    "stateful.state_rows_total": "count", "stateful.rows_out": "count",
    "trace.overhead_s": "s", "traced.cpu_ms_per_op": "ms",
    "traced.latency_p50_ms": "ms", "traced.throughput_per_s": "1/s",
}


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("sf0.1", "smoke"), default="sf0.1",
                   help="data size; smoke is for the self-test")
    p.add_argument("--drop-row", action="store_true",
                   help="self-test: corrupt each result by one row, so checks must fail")
    return p.parse_args(argv)


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from JVM /proc status")


def _session_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        # The whole heap (the engine's -Xmx is ENGINE_DRIVER_MEMORY) is
        # committed and touched at start, so peak RSS does not depend on
        # when GC chose to grow it; -UsePerfData stops the JVM writing
        # hsperfdata outside the run dir; a fixed set of JIT compiler
        # threads keeps their CPU out of the cost metrics (cputime.py).
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP_SIZE} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _isolate(run_dir: str, cpus: int) -> None:
    """Point every place Spark, the engine and Python write at ``run_dir``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "ENGINE_LAKE_DIR": os.path.join(run_dir, "lake"),
        "ENGINE_LAKE_CACHE": "1",
        "ENGINE_DRIVER_MEMORY": HEAP_SIZE,
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYSPARK_PYTHON": sys.executable,
    })


def _lake(sf_dir: str) -> None:
    """Give the run its own copy of the engine's lake for ``sf_dir``.

    The lake is the engine's 16-file rewrite of each large fixture table
    (``catalog.load_table`` with ``ENGINE_LAKE_CACHE=1``). It is built once
    per checkout, by the engine in a separate process (``lake.py``), and
    hard-linked into each run's directory, so every run finds a current
    lake: set-up never mixes runs that rewrite the lake with runs that
    reuse it."""
    built = sf_dir + "-lake"
    if not os.path.exists(os.path.join(built, "_COMPLETE")):
        subprocess.run([sys.executable, os.path.join(HERE, "lake.py"), sf_dir, built],
                       check=True, timeout=900, stdout=sys.stderr)
    dest = os.environ["ENGINE_LAKE_DIR"]
    for root, _dirs, files in os.walk(built):
        out = os.path.join(dest, os.path.relpath(root, built))
        os.makedirs(out, exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), os.path.join(out, f))


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(work, "runs"))
    cpus = len(os.sched_getaffinity(0))
    _isolate(run_dir, cpus)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_dir, work, cpus, bool(args.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, work: str, cpus: int, traced: bool) -> int:
    import fixtures

    batch = args.workload != "tick_stream"
    sf_dir = None
    if batch:
        sf_dir = fixtures.write_tables(os.path.join(work, "fixtures"), args.scale)
        _lake(sf_dir)

    from cputime import tree_cpu_s

    layers: dict[str, float] = {}
    t_setup, cpu_setup = time.perf_counter(), tree_cpu_s()
    from finance_data_ingestion_pipeline_with_kafka_spark import catalog
    from finance_data_ingestion_pipeline_with_kafka_spark.registry import load_all
    from finance_data_ingestion_pipeline_with_kafka_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      extra_conf=_session_conf(run_dir, traced))
    spark.sparkContext.setLogLevel("ERROR")
    layers["session.get_spark_s"] = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        queries = load_all()
        layers["registry.load_all_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if batch:
            import batch as batch_mod

            for table in batch_mod.ANALYTICS_TABLES:
                catalog.load_table(spark, sf_dir, table)
        layers["catalog.lake_ingest_s"] = time.perf_counter() - t0
        setup_s = tree_cpu_s() - cpu_setup
        layers["setup.wall_s"] = time.perf_counter() - t_setup

        tracer = None
        if traced:
            from tracing import Tracer

            tracer = Tracer()
        if batch:
            wl = batch_mod.BatchRun(spark, sf_dir, batch_mod.ANALYTICS_SCANAGG, queries,
                                    batch_mod.ANALYTICS_TABLES, tracer, args.drop_row)
            wl.run(args.seed, args.seconds)
            e2e, failed, failures = wl.end_to_end(), len(wl.failures), wl.failures
        else:
            import stream

            wl = stream.TickRun(spark, run_dir, args.scale, traced, args.drop_row)
            wl.run(args.seed, args.seconds)
            e2e, failed, failures = wl.e2e, wl.failed, wl.failures
            layers.update(wl.layers)
        rss_mb = _jvm_hwm_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        _stop(spark)

    e2e = {"setup_s": (setup_s, "s"), **e2e, "peak_rss_mb": (rss_mb, "MB")}
    detail: dict = {"end_to_end": {k: v for k, (v, _) in e2e.items()}, "failures": failures}
    if traced:
        if batch:
            batch_layers, detail["per_query"] = wl.per_layer(os.path.join(run_dir, "eventlog"))
            layers.update(batch_layers)
        else:
            detail["stream"] = wl.detail
        layers["cold.first_pass_s"] = e2e["first_pass_s"][0]
        layers["traced.cpu_ms_per_op"] = e2e["cpu_ms_per_op"][0]
        layers["traced.latency_p50_ms"] = e2e["latency_p50_ms"][0]
        layers["traced.throughput_per_s"] = e2e["throughput_per_s"][0]
        detail["layers"] = layers
        tracer.write(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"), detail)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k][0]), "unit": u} for k, u in END_TO_END.items()}
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": wl.attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
