"""Soak the dedup/ANN family at sf1-equivalent volume (10x the bench
SF via the key-shifted replication the crossover phase uses), recording
wall-clock AND shuffle volume per query at 1x and 10x — turns the
100 TB banded-candidate scale story from extrapolated argument into
measurement (VERDICT r7 ask #5). Super-linear shuffle growth in the
LSH band tables would show here as a 10x->>10x byte ratio.

Usage: python tools/soak_sf1.py [--queries a,b,c] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = ("minhash_near_dup", "near_dup_clusters", "ivf_ann", "pq_ann")


def _stage_totals(ui: str) -> dict[int, dict]:
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=COMPLETE", timeout=10
        )
    )
    return {
        (s["stageId"], s["attemptId"]): {
            "shuffle_write": s.get("shuffleWriteBytes", 0),
            "shuffle_read": s.get("shuffleReadBytes", 0),
            "input": s.get("inputBytes", 0),
        }
        for s in stages
    }


def _delta(before: dict, after: dict) -> dict:
    new = {k: v for k, v in after.items() if k not in before}
    return {
        "shuffle_write_mb": round(sum(v["shuffle_write"] for v in new.values()) / 1e6, 1),
        "shuffle_read_mb": round(sum(v["shuffle_read"] for v in new.values()) / 1e6, 1),
        "input_mb": round(sum(v["input"] for v in new.values()) / 1e6, 1),
        "n_stages": len(new),
    }


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="dedup/ANN walls and shuffle bytes at 1x and 10x", allow_abbrev=False
    )
    p.add_argument("--queries", type=lambda v: v.split(","), default=list(DEFAULT_QUERIES))
    p.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    return p.parse_args(argv)


def main() -> int:
    args = parse_args(sys.argv[1:])
    os.environ.setdefault("ENGINE_LAKE_CACHE", "1")
    names, sf_dir = args.queries, args.sf
    from bench import _replicated

    from finance_data_ingestion_pipeline_with_kafka_spark.registry import load_all
    from finance_data_ingestion_pipeline_with_kafka_spark.session import get_spark

    spark = get_spark(app_name="soak-sf1", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    cat = load_all()

    report = {}
    for rep in (1, 10):
        with _replicated(sf_dir, rep):
            for name in names:
                spec = cat[name]
                runs = []
                for tag in ("cold", "warm"):
                    before = _stage_totals(ui)
                    t0 = time.perf_counter()
                    n_rows = len(spec.fn(spark, sf_dir).toPandas())
                    wall = round(time.perf_counter() - t0, 2)
                    d = _delta(before, _stage_totals(ui))
                    d.update({"wall_s": wall, "rows": n_rows, "run": tag})
                    runs.append(d)
                    print(f"rep={rep} {name} {tag}: {d}", flush=True)
                report[f"{name}@{rep}x"] = runs
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
