"""Attribution protocol for round-over-round draws in floor-bound bench
numbers (SCALE.md §Round 7 protocol): N fresh-JVM re-runs of a single
query's 1x wall (min-of-3 warm, identical conf to bench.py — lake cache
on, same session builder), plus the DuckDB twin, so a suspicious draw
can be pinned to noise or to a real cost move.

Usage:
  python tools/attr_floor.py top_revenue_orders [--jvms 3] [--sf /root/testdata/sf0.1]
  python tools/attr_floor.py --streaming [--jvms 3]   # replay/steady throughput draws
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CHILD = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("ENGINE_LAKE_CACHE", "1")
from bench import _force, _walls
from finance_data_ingestion_pipeline_with_kafka_spark.registry import load_all
from finance_data_ingestion_pipeline_with_kafka_spark.session import get_spark

spark = get_spark(app_name="attr-floor")
spark.sparkContext.setLogLevel("ERROR")
spec = load_all()[{name!r}]
# one cold call (plan + codegen + lake ingest), then three timed
walls = _walls(lambda: _force(spec.fn(spark, {sf_dir!r})), 1, 3)
print(json.dumps({{"walls": [round(w, 4) for w in walls], "min": round(min(walls), 4)}}))
"""


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="fresh-JVM draws of one query's 1x wall (or the streaming rates)",
        allow_abbrev=False,
    )
    p.add_argument("name", nargs="?", help="catalog query name")
    p.add_argument("--jvms", type=int, default=3)
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--streaming", action="store_true", help="replay/steady throughput draws")
    args = p.parse_args(argv)
    if not args.streaming and not args.name:
        p.error("a query name or --streaming is required")
    return args


def main() -> int:
    args = parse_args(sys.argv[1:])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from bench import _child, _duck_connect_replicated, _walls

    duck_time = None
    if not args.streaming:
        from finance_data_ingestion_pipeline_with_kafka_spark.registry import load_all

        con = _duck_connect_replicated(args.sf, 1)
        oracle = load_all()[args.name].oracle

        def duck_time():
            return round(min(_walls(lambda: con.sql(oracle).df(), 0, 3)), 4)

        con.sql(oracle).df()  # warm once
    else:
        # each streaming draw is a bench child, whose timeout comes from
        # the bench budget: give every draw one full child timeout
        os.environ.setdefault("SPARK_GRAFT_BENCH_BUDGET", str(630 * args.jvms))

    # the DuckDB twin is drawn ONCE PER JVM, interleaved with the spark
    # child runs, so each draw pair shares co-tenant load conditions and
    # the per-draw ratio distribution is meaningful (VERDICT r13 ask #3:
    # the per-cell band needs paired draws, not one duck number)
    draws = []
    for i in range(args.jvms):
        if args.streaming:
            try:
                d = _child("stream", {})
                draws.append({"replay_msgs_per_sec": d["e2e"], "steady_msgs_per_sec": d["steady"]})
            except RuntimeError as ex:
                draws.append({"error": str(ex)})
        else:
            code = _CHILD.format(repo=repo, name=args.name, sf_dir=args.sf)
            out = subprocess.run(
                [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
            )
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            try:
                draws.append(json.loads(line))
            except json.JSONDecodeError:
                draws.append({"error": out.stderr[-300:]})
        if duck_time is not None and "min" in draws[-1]:
            draws[-1]["duckdb_min"] = duck_time()
            draws[-1]["ratio"] = round(draws[-1]["min"] / draws[-1]["duckdb_min"], 2)
        print(f"jvm {i + 1}/{args.jvms}: {draws[-1]}", flush=True)

    ratios = sorted(d["ratio"] for d in draws if "ratio" in d)
    if ratios:
        print(json.dumps({"ratio_band": [ratios[0], ratios[-1]], "ratios": ratios}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
