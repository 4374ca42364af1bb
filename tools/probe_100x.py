"""One-off 100x volume probe: the sf0.1 fixture replicated 100-way
key-shifted (sf10-equivalent row counts — lineitem ~60M, events ~10M)
through the SAME two-engine machinery the bench crossover phases use,
for a handful of representative kernels. This answers the "would the
ratio still hold at the next 10x?" question with a measurement instead
of an extrapolation from the 10x/30x tables.

Usage: python tools/probe_100x.py [--queries a,b,c] [--factor 100]
                                  [--sf /root/testdata/sf0.1]

Protocol notes (one ``bench._cell`` per (query, rep), as in the bench's
crossover phases): DuckDB then Spark back-to-back so co-tenant spikes
hit both sides of a ratio; one warm pass then min-of-3 timed per engine (walls at 100x are
seconds — a deeper min buys little and costs minutes); both scale
points measured inside one JVM state.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = (
    "pricing_summary",       # q1-class scan-agg: the per-row efficiency bar
    "top_revenue_orders",    # q3-class join + topk
    "tumbling_window_agg",   # event-time window agg
    "exact_dedup",           # hash-groupBy dedup
    "regional_revenue",      # 5-way dim join
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="two-engine walls at 1x and N x volume", allow_abbrev=False
    )
    p.add_argument("--queries", type=lambda v: v.split(","), default=list(DEFAULT_QUERIES))
    p.add_argument("--factor", type=int, default=100)
    p.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    return p.parse_args(argv)


def main() -> int:
    args = parse_args(sys.argv[1:])
    os.environ.setdefault("ENGINE_LAKE_CACHE", "1")
    names, factor, sf_dir = args.queries, args.factor, args.sf
    from bench import _cell, _replicated

    from finance_data_ingestion_pipeline_with_kafka_spark.registry import load_all
    from finance_data_ingestion_pipeline_with_kafka_spark.session import get_spark

    cat = load_all()
    missing = [n for n in names if n not in cat or cat[n].oracle is None]
    if missing:
        raise SystemExit(f"not oracle-benchable: {missing}")
    spark = get_spark(app_name="probe-100x")

    def measure(rep: int) -> tuple[dict[str, float], dict[str, float]]:
        duck, spk = {}, {}
        with _replicated(sf_dir, rep) as con:
            for name in names:
                duck[name], spk[name] = _cell(spark, con, cat[name], sf_dir, 1, 1, 3)
                print(
                    f"  rep={rep} {name}: spark {spk[name]:.2f} s, "
                    f"duckdb {duck[name]:.2f} s",
                    file=sys.stderr,
                )
        return duck, spk

    duck_1x, spark_1x = measure(1)
    duck_nx, spark_nx = measure(factor)
    out = {
        name: {
            "spark_1x": round(spark_1x[name], 4),
            "duckdb_1x": round(duck_1x[name], 4),
            f"spark_{factor}x": round(spark_nx[name], 4),
            f"duckdb_{factor}x": round(duck_nx[name], 4),
            f"ratio_{factor}x": round(
                spark_nx[name] / max(duck_nx[name], 1e-6), 2
            ),
            "spark_scaling": round(spark_nx[name] / max(spark_1x[name], 1e-6), 2),
            "duckdb_scaling": round(duck_nx[name] / max(duck_1x[name], 1e-6), 2),
        }
        for name in names
    }
    print(json.dumps({"factor": factor, "sf_dir": sf_dir, "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
