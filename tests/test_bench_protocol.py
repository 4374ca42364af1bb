"""Protocol depth of bench.py's volume phases, with no Spark and no DuckDB.

Every graded crossover cell runs a fixed number of untimed warm calls and
timed calls per engine; a refactor that drifts one of those counts changes
what the published ratios mean without changing any key of the output.
The fakes below stand in for the catalog and the DuckDB connection, count
every call per (engine, query, replication) and classify it by whether it
fell inside a timed window: between a start and an end read of bench.py's
``perf_counter``.
"""

from __future__ import annotations

import contextlib
import io
import os
import subprocess
import sys
import types
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

#: never read: every spec and every connection below is a fake
SF = "/nonexistent/sf0.1"


class Probe:
    """bench.py's ``time`` module and the call counter in one: each
    ``perf_counter`` read flips the timed window, each fake execution
    advances the clock by ``wall`` seconds, and ``monotonic`` stays at
    bench start so the budget reads exactly SPARK_GRAFT_BENCH_BUDGET."""

    def __init__(self, wall: float) -> None:
        self.wall = wall
        self.now = 0.0
        self.reads = 0
        self.calls: Counter = Counter()

    def perf_counter(self) -> float:
        self.reads += 1
        return self.now

    def monotonic(self) -> float:
        return bench._BENCH_T0

    def hit(self, engine: str, name: str, rep: int) -> None:
        phase = "timed" if self.reads % 2 else "warm"
        self.calls[(engine, name, rep, phase)] += 1
        self.now += self.wall

    def depth(self, engine: str, name: str, rep: int) -> tuple[int, int]:
        return (
            self.calls[(engine, name, rep, "warm")],
            self.calls[(engine, name, rep, "timed")],
        )


@pytest.fixture
def probe(monkeypatch):
    p = Probe(wall=0.1)
    monkeypatch.setattr(bench, "time", p)
    names = sorted({*bench.DEDUP_CROSSOVER, *bench.FLOOR_BOUND, "scan_a", "scan_b"})

    def spec(name):
        def fn(spark, sf_dir):
            rep = int(os.environ.get("ENGINE_SCAN_REPLICATE", "1"))
            return types.SimpleNamespace(toPandas=lambda: p.hit("spark", name, rep))

        # only the scan_* pair is in the 10x scale phase; the oracle
        # string is the query name, so the fake connection can count it
        return types.SimpleNamespace(
            fn=fn, oracle=name, bench=True, crossover=name.startswith("scan_")
        )

    class Con:
        def __init__(self, rep):
            self.rep = rep

        def sql(self, oracle):
            return types.SimpleNamespace(df=lambda: p.hit("duckdb", oracle, self.rep))

        def close(self):
            pass

    monkeypatch.setattr(bench, "load_all", lambda: {n: spec(n) for n in names})
    monkeypatch.setattr(bench, "_duck_connect_replicated", lambda sf_dir, rep: Con(rep))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET", "100000")
    monkeypatch.delenv("ENGINE_SCAN_REPLICATE", raising=False)
    return p


def test_scale_crossover_depth(probe):
    out = bench._scale_crossover(None, SF, factor=10)
    assert sorted(out["queries"]) == ["scan_a", "scan_b"]
    for name in ("scan_a", "scan_b"):
        for rep in (1, 10):
            assert probe.depth("duckdb", name, rep) == (1, 2), (name, rep)
            assert probe.depth("spark", name, rep) == (1, 2), (name, rep)
    assert os.environ.get("ENGINE_SCAN_REPLICATE") is None


def test_dedup_crossover_depth(probe):
    out = bench._dedup_crossover(None, SF, factor=10)
    assert "degraded_to_min2" not in out and "skipped_for_budget" not in out
    for name in bench.DEDUP_CROSSOVER:
        for rep in (1, 10):
            # one warm, one timed pass that picks the depth, four more
            assert probe.depth("duckdb", name, rep) == (1, 5), (name, rep)
            assert probe.depth("spark", name, rep) == (1, 5), (name, rep)


def test_dedup_crossover_depth_under_budget(probe, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET", "140")
    out = bench._dedup_crossover(None, SF, factor=10)
    assert "skipped_for_budget" not in out
    assert out["degraded_to_min2"] == sorted(
        f"{n}@{rep}x" for n in bench.DEDUP_CROSSOVER for rep in (1, 10)
    )
    for name in bench.DEDUP_CROSSOVER:
        for rep in (1, 10):
            assert probe.depth("duckdb", name, rep) == (1, 2), (name, rep)
            assert probe.depth("spark", name, rep) == (1, 2), (name, rep)


def test_deep_crossover_depth(probe):
    out = bench._deep_crossover(None, SF, 30)
    assert "degraded_to_min2" not in out
    for name in bench.FLOOR_BOUND:
        assert probe.depth("duckdb", name, 1) == (1, 2), name
        assert probe.depth("spark", name, 1) == (2, 2), name
        assert probe.depth("duckdb", name, 30) == (1, 5), name
        assert probe.depth("spark", name, 30) == (2, 5), name


def test_deep_child_does_not_remeasure_handed_down_1x_cells(probe, monkeypatch):
    """The 1x cells the 10x phase already measured travel to the deep
    child JVM with its launch; the child times only the rest. The fake
    ``subprocess.run`` re-enters ``bench.main`` in this process with the
    child's argv and environment."""
    handed = {"top_revenue_orders": {"spark_1x": 0.5, "duckdb_1x": 0.25}}

    def run(argv, env=None, **kw):
        for k, v in (env or {}).items():
            monkeypatch.setenv(k, v)
        monkeypatch.setattr(sys, "argv", list(argv[1:]))
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            bench.main()
        return subprocess.CompletedProcess(argv, 0, out.getvalue(), "")

    logs = types.SimpleNamespace(setLogLevel=lambda level: None)
    monkeypatch.setattr(subprocess, "run", run)
    monkeypatch.setattr(
        bench, "get_spark", lambda **kw: types.SimpleNamespace(sparkContext=logs)
    )
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF)
    monkeypatch.setenv("ENGINE_LAKE_CACHE", "1")  # main() sets it; restore after
    if hasattr(bench, "_child"):
        out = bench._child("deep", {"sf_dir": SF, "xo_1x": handed})
    else:  # the launcher before `bench.py --child MODE ARGS_JSON`
        out = bench._deep_crossover_subprocess(SF, handed)
    assert out["protocol"]["reused_1x_from_crossover"] == ["top_revenue_orders"]
    assert out["top_revenue_orders"]["spark_1x"] == 0.5
    assert out["top_revenue_orders"]["duckdb_1x"] == 0.25
    for name in bench.FLOOR_BOUND:
        fresh = (0, 0) if name in handed else None
        assert probe.depth("duckdb", name, 1) == (fresh or (1, 2)), name
        assert probe.depth("spark", name, 1) == (fresh or (2, 2)), name
        assert probe.depth("duckdb", name, 30) == (1, 5), name
        assert probe.depth("spark", name, 30) == (2, 5), name


def test_xo_redraw_depth(probe):
    out = bench._xo_redraw(None, SF, "session_window_agg", 10)
    assert set(out) == {"spark_1x", "spark_10x", "spark_scaling"}
    for rep in (1, 10):
        assert probe.depth("spark", "session_window_agg", rep) == (2, 5), rep
    assert not [k for k in probe.calls if k[0] == "duckdb"]
