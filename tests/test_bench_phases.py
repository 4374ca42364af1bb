"""Smoke tests for bench.py's measurement phases — the phases scope the
scan replication env var and plan on child sessions, so a leaked value or
a conf write would silently poison every phase that runs after them.
These pin the contract at a tiny scale factor (the real measurements run
at sf0.1 inside bench.py), plus the child launcher and the tools' flag
parsers.
"""

import importlib
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_skew_crossover_restores_confs_and_reports(spark, sf_dir):
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    before = {k: spark.conf.get(k) for k in keys}
    out = bench._skew_crossover(spark, sf_dir, factor=2)
    for k in keys:
        assert spark.conf.get(k) == before[k], k
    assert os.environ.get("ENGINE_SCAN_REPLICATE") is None
    for key in (
        "factor",
        "hot_key_share",
        "n_salts",
        "plain_aqe_1x",
        "salted_1x",
        "plain_aqe_2x",
        "salted_2x",
        "salted_speedup_2x",
    ):
        assert key in out, key
    assert out["plain_aqe_1x"] > 0 and out["salted_2x"] > 0


def test_streaming_stateful_throughput_reports_rate(spark):
    rate = bench._streaming_stateful_throughput(spark, n_msgs=2_000)
    assert rate > 0


def test_stream_ab_subprocess_mode_contract():
    """bench.py's ``--child stream`` mode must exist and the trigger
    threshold must match the documented 25k gate."""
    import inspect

    src = inspect.getsource(bench.main)
    assert "stream" in bench._CHILD_MODES
    assert '_child("stream", {})' in src
    assert "25_000" in src


def test_child_timeout_comes_from_the_remaining_budget(monkeypatch):
    """A hung child must not outlive the bench: every ``--child`` mode's
    subprocess timeout fits inside the remaining budget, down to the
    smallest budget any launch site lets through (100 s), and the child's
    own budget ends before its timeout. A timeout or a failed child
    raises with the mode and the stderr tail."""
    seen = {}

    def run(argv, timeout=None, env=None, **kw):
        assert argv[2] == "--child"
        seen[argv[3]] = (timeout, bench._budget_left(), float(env["SPARK_GRAFT_BENCH_BUDGET"]))
        return subprocess.CompletedProcess(argv, 0, '{"ok": 1}\n', "")

    monkeypatch.setattr(subprocess, "run", run)
    monkeypatch.setattr(bench, "_BENCH_T0", time.monotonic())
    for budget in ("101", "150", "400", "100000"):
        monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET", budget)
        for mode in bench._CHILD_MODES:
            assert bench._child(mode, {}) == {"ok": 1}
            timeout, left, child_budget = seen.pop(mode)
            assert timeout <= left, (mode, budget, timeout, left)
            assert child_budget < timeout, (mode, budget)

    def hang(argv, timeout=None, **kw):
        raise subprocess.TimeoutExpired(argv, timeout, stderr=b"java.lang.OutOfMemoryError")

    monkeypatch.setattr(subprocess, "run", hang)
    with pytest.raises(RuntimeError, match="stream child timed out.*OutOfMemoryError"):
        bench._child("stream", {})
    monkeypatch.setattr(
        subprocess, "run", lambda argv, **kw: subprocess.CompletedProcess(argv, 1, "", "boom")
    )
    with pytest.raises(RuntimeError, match="deep child rc=1: boom"):
        bench._child("deep", {})


def test_one_function_owns_each_bench_measurement_step():
    """Source scan: in bench.py, ``perf_counter`` appears only in
    ``_walls`` and the two streaming replays (whose walls span a stream's
    start and termination), and ``subprocess.run`` only in ``_child``;
    across bench.py and ``tools/``, only ``_replicated`` names
    ``ENGINE_SCAN_REPLICATE`` in code. A phase times, replicates and
    launches children through the shared helpers instead of growing its
    own copy."""
    import ast
    import pathlib

    root = pathlib.Path(bench.__file__).parent

    def owners(files, hit):
        found = set()
        for f in files:
            for stmt in ast.parse(f.read_text()).body:
                if any(hit(c) for c in ast.walk(stmt)):
                    found.add((f.name, getattr(stmt, "name", "<module>")))
        return found

    def attr(name, of=None):
        return lambda c: (
            isinstance(c, ast.Attribute)
            and c.attr == name
            and (of is None or ast.unparse(c.value) == of)
        )

    def replicate_env(c):
        return isinstance(c, ast.Constant) and c.value == "ENGINE_SCAN_REPLICATE"

    here = [root / "bench.py"]
    assert owners(here, attr("perf_counter")) == {
        ("bench.py", "_walls"),
        ("bench.py", "_streaming_throughput"),
        ("bench.py", "_streaming_stateful_throughput"),
    }
    assert owners(here, attr("run", "subprocess")) == {("bench.py", "_child")}
    tools = sorted((root / "tools").glob("*.py"))
    assert owners(here + tools, replicate_env) == {("bench.py", "_replicated")}


def test_dedup_crossover_budget_exhaustion_is_loud(spark, sf_dir, monkeypatch):
    """With the wall budget exhausted, the phase must NOT silently return
    partial totals: every cell is skipped, the marker names all of them,
    and the (empty) totals cover zero cells rather than a lucky prefix."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET", "0")
    out = bench._dedup_crossover(spark, sf_dir, factor=2)
    assert sorted(out["skipped_for_budget"]) == sorted(bench.DEDUP_CROSSOVER)
    assert out["queries"] == {}
    assert out["spark_total_1x"] == 0
    assert os.environ.get("ENGINE_SCAN_REPLICATE") is None


def test_budget_left_env_override(monkeypatch):
    """_budget_left reads SPARK_GRAFT_BENCH_BUDGET (seconds since process
    start); an enormous budget must report plenty remaining, a zero budget
    must report none."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET", "1000000")
    assert bench._budget_left() > 900_000
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET", "0")
    assert bench._budget_left() <= 0


def test_dedup_crossover_order_is_cheapest_first():
    """Budget skips drop from the END of DEDUP_CROSSOVER — the tuple must
    keep the sub-second ANN cells ahead of the multi-second recursive /
    banded cells or a degraded run measures almost nothing."""
    assert bench.DEDUP_CROSSOVER.index("ivf_ann") < bench.DEDUP_CROSSOVER.index(
        "minhash_near_dup"
    )
    assert bench.DEDUP_CROSSOVER.index("pq_ann") < bench.DEDUP_CROSSOVER.index(
        "near_dup_clusters"
    )


@pytest.mark.parametrize("tool", ["attr_floor", "probe_100x", "soak_sf1"])
def test_tool_flag_parsing_is_strict(tool):
    """Each tool's own parser takes exactly ``--flag value`` and
    ``--flag=value``: a trailing bare flag, an unrelated flag that merely
    starts with a real one (``--sfoo``) and a stray token where no query
    name goes all stop with a usage error instead of being consumed or
    silently ignored."""
    parse_args = importlib.import_module(f"tools.{tool}").parse_args
    lead = ["top_revenue_orders"] if tool == "attr_floor" else []
    assert parse_args([*lead, "--sf", "/x"]).sf == "/x"
    assert parse_args([*lead, "--sf=/y"]).sf == "/y"
    bad = [["--sf"], ["--sfoo", "/z"], ["stray"]]
    if tool != "attr_floor":
        assert parse_args(["--queries", "a,b"]).queries == ["a", "b"]
        assert parse_args(["--queries=c"]).queries == ["c"]
        bad.append(["--queries"])
    if tool == "probe_100x":
        assert parse_args(["--factor", "50"]).factor == 50
        bad.append(["--factor"])
    for argv in bad:
        with pytest.raises(SystemExit):
            parse_args([*lead, *argv])


@pytest.mark.parametrize("tool", ["attr_floor", "probe_100x", "soak_sf1"])
def test_tool_import_leaves_environ_unchanged(tool, monkeypatch):
    """Importing a tool (as the flag-parser test does) sets no variable:
    the lake cache a tool turns on belongs to its ``main()``, not to
    every test that runs after the import in the same process."""
    monkeypatch.delenv("ENGINE_LAKE_CACHE", raising=False)
    monkeypatch.delitem(sys.modules, f"tools.{tool}", raising=False)
    before = dict(os.environ)
    importlib.import_module(f"tools.{tool}")
    assert dict(os.environ) == before
