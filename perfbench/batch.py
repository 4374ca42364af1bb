"""Batch workloads: a closed loop with one client over catalog queries.

Each run invokes every query once right after set-up (the cold pass, whose
results are checked against the queries' DuckDB oracles), then runs a fixed
number of warm passes — every query once, each pass in a new seed-permuted
order. ``seconds`` sets that number: as many passes as fit in it at
``PASS_S`` seconds, about the wall of a warm pass on a 4-core box, and at
least one. The work is fixed rather than the wall: each pass costs a
little less CPU than the one before, and a window that ended on the clock
would measure more of the cheaper passes on a quiet host than on a busy
one. A warm result must fingerprint-equal that query's cold result.

An invocation is ``spec.fn(spark, sf_dir)`` followed by an Arrow
``toPandas()`` of the returned DataFrame, timed by the client.
"""

from __future__ import annotations

import random
import statistics
import sys
import time

from checks import fingerprint, oracle_fingerprints
from cputime import tree_cpu_s
from tracing import Tracer, busy_seconds, duration, group_counts, read_event_log, stage_skews

#: The 15 non-dedup headline queries. They are floor-bound at sf0.1: their
#: time goes to registry policy, plan construction and planning, and
#: job/stage scheduling rather than to data.
ANALYTICS_SCANAGG = (
    "pricing_summary", "regional_revenue", "broadcast_dim_join", "top_revenue_orders",
    "filter_project", "asof_join", "ohlcv_bars", "multi_resolution_bars",
    "tumbling_window_agg", "session_window_agg", "window_rank_topk", "exact_dedup",
    "dataset_split", "token_stats", "tfidf_top_terms",
)
#: About the wall of one warm pass; ``seconds // PASS_S`` passes are measured.
PASS_S = 10.0
#: Tables the queries above read; ingested into the lake during set-up.
ANALYTICS_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                    "lineitem", "events", "documents")


class BatchRun:
    def __init__(self, spark, sf_dir: str, names: tuple[str, ...], catalog: dict,
                 tables: tuple[str, ...], tracer: Tracer | None, drop_row: bool = False):
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.specs = {n: catalog[n] for n in names}
        self.tables = tables
        #: self-test hook: drop one row of every result before it is checked
        self.drop_row = drop_row
        self.seq = 0
        self.cold: dict[str, float] = {}
        self.warm: list[tuple[str, float]] = []
        self.cold_cpu_s = self.warm_cpu_s = 0.0
        self.failures: list[str] = []
        self.records: list[dict] = []  # traced invocations

    def _invoke(self, name: str, phase: str):
        spec = self.specs[name]
        if self.tracer is None:
            t0 = time.perf_counter()
            pdf = spec.fn(self.spark, self.sf_dir).toPandas()
            return pdf, time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.seq += 1
        group = f"q:{name}:{self.seq}"
        sc.setJobGroup(group, f"perfbench {phase} {name}")
        try:
            with self.tracer.span("invocation", query=name, phase=phase, group=group) as inv:
                with self.tracer.span("construct"):
                    df = spec.fn(self.spark, self.sf_dir)
                construct_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                with self.tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.tracer.span("execute_collect"):
                    pdf = df.toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        t0 = time.perf_counter()
        inv["attrs"].update(group_counts(sc, group), construct_jobs=construct_jobs,
                            result_bytes=int(pdf.memory_usage(deep=True).sum()))
        inv["attrs"]["trace_overhead_s"] = time.perf_counter() - t0
        self.records.append(inv)
        return pdf, duration(inv)

    def run(self, seed: int, seconds: float) -> None:
        rng = random.Random(seed)
        t0 = time.perf_counter()
        oracle = oracle_fingerprints(self.sf_dir, self.tables, self.specs)
        t_oracle = time.perf_counter() - t0
        first: dict[str, tuple] = {}
        order = list(self.specs)
        rng.shuffle(order)
        cpu0 = tree_cpu_s()
        for name in order:
            pdf, secs = self._invoke(name, "cold")
            self.cold[name] = secs
            first[name] = self._check(name, pdf, oracle[name])
        self.cold_cpu_s = tree_cpu_s() - cpu0
        start = time.perf_counter()
        for _ in range(max(1, int(seconds // PASS_S))):
            rng.shuffle(order)
            cpu0 = tree_cpu_s()
            for name in order:
                pdf, secs = self._invoke(name, "warm")
                self.warm.append((name, secs))
                self._check(name, pdf, first[name])
            self.warm_cpu_s += tree_cpu_s() - cpu0
        print(f"perfbench: oracles {t_oracle:.1f} s, cold pass {sum(self.cold.values()):.1f} s, "
              f"warm passes {time.perf_counter() - start:.1f} s", file=sys.stderr)

    def _check(self, name: str, pdf, want: tuple) -> tuple:
        if self.drop_row and len(pdf):
            pdf = pdf.iloc[1:]
        got = fingerprint(pdf)
        if got != want:
            self.failures.append(f"{name}: result {got[:2]} differs from expected {want[:2]}")
        return got

    @property
    def attempted(self) -> int:
        return len(self.cold) + len(self.warm)

    def end_to_end(self) -> dict:
        """CPU per warm invocation and of the cold pass; and, by wall, the
        median over the queries of each query's median warm latency and
        the queries per second of a pass made of those medians."""
        per_query: dict[str, list[float]] = {}
        for name, secs in self.warm:
            per_query.setdefault(name, []).append(secs)
        typical = [statistics.median(v) for v in per_query.values()]
        return {
            "cpu_ms_per_op": (self.warm_cpu_s * 1000.0 / len(self.warm), "ms"),
            "cold_cpu_s": (self.cold_cpu_s, "s"),
            "first_pass_s": (sum(self.cold.values()), "s"),
            "latency_p50_ms": (statistics.median(typical) * 1000.0, "ms"),
            "throughput_per_s": (len(typical) / sum(typical), "1/s"),
        }

    def per_layer(self, event_log_dir: str) -> tuple[dict, dict]:
        """Per-layer metrics over the warm invocations, as totals per pass
        (warm invocations / number of queries; the query set is fixed, so a
        pass total is comparable across runs and the three invocation
        phases add up to the pass wall), plus per-query detail for the
        trace file."""
        groups = read_event_log(event_log_dir)
        warm = [r for r in self.records if r["attrs"]["phase"] == "warm"]
        passes = max(1, len(warm)) / len(self.specs)
        per_query: dict[str, dict] = {}
        tot: dict[str, float] = {}
        busy = wall = 0.0
        skews: list[float] = []
        for r in self.records:
            a = r["attrs"]
            g = groups.get(a["group"], {})
            row = {
                "wall_s": duration(r),
                "registry.construct_s": duration(self.tracer.children(r, "construct")[0]),
                "catalyst.plan_s": duration(self.tracer.children(r, "plan")[0]),
                "collect.execute_collect_s": duration(self.tracer.children(r, "execute_collect")[0]),
                "registry.construct_jobs": a["construct_jobs"],
                "scheduler.jobs": a["jobs"], "scheduler.stages": a["stages"],
                "scheduler.tasks": a["tasks"], "scheduler.failed_tasks": a["failed_tasks"],
                "executor.run_s": g.get("run_ms", 0) / 1000.0,
                "executor.cpu_s": g.get("cpu_ns", 0) / 1e9,
                "executor.gc_s": g.get("gc_ms", 0) / 1000.0,
                "shuffle.write_bytes": g.get("shuffle_write", 0),
                "shuffle.read_bytes": g.get("shuffle_read", 0),
                "shuffle.fetch_wait_s": g.get("fetch_wait_ms", 0) / 1000.0,
                "spill.bytes": g.get("spill", 0),
                "collect.result_bytes": a["result_bytes"],
                "trace.overhead_s": a["trace_overhead_s"],
            }
            r_busy = busy_seconds(g.get("intervals", []), r["start"], r["end"])
            row["scheduler.idle_share"] = 1.0 - r_busy / row["wall_s"]
            r_skews = stage_skews(g.get("stage_tasks", {}))
            row["task.skew"] = max(r_skews, default=1.0)
            per_query.setdefault(a["query"], {"cold": None, "warm": []})
            if a["phase"] == "cold":
                per_query[a["query"]]["cold"] = row
                continue
            per_query[a["query"]]["warm"].append(row)
            for k, v in row.items():
                tot[k] = tot.get(k, 0.0) + v
            busy += r_busy
            wall += row["wall_s"]
            skews.extend(r_skews)
        layers = {k: tot.get(k, 0.0) / passes for k in (
            "registry.construct_s", "registry.construct_jobs", "catalyst.plan_s",
            "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.failed_tasks",
            "executor.run_s", "executor.cpu_s", "executor.gc_s", "shuffle.write_bytes",
            "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.bytes",
            "collect.execute_collect_s", "collect.result_bytes", "trace.overhead_s")}
        layers["scheduler.idle_share"] = 1.0 - busy / wall if wall else 0.0
        layers["task.skew"] = statistics.median(skews) if skews else 1.0
        return layers, per_query
