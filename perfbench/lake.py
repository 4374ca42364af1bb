"""Build the engine's lake for one fixture directory, once per checkout.

    python3 perfbench/lake.py <sf_dir> <lake_dir>

Runs ``catalog.load_table`` over every fixture table with the engine's
lake layout switched on, in a session of its own, then marks
``<lake_dir>`` complete. ``run.py`` calls this before its first batch
run and hard-links the result into each run's directory.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import run


def main(sf_dir: str, lake_dir: str) -> None:
    build = tempfile.mkdtemp(prefix=".build-", dir=os.path.dirname(lake_dir))
    try:
        cpus = len(os.sched_getaffinity(0))
        run._isolate(build, cpus)
        sys.path.insert(0, run.ROOT)
        from finance_data_ingestion_pipeline_with_kafka_spark import catalog
        from finance_data_ingestion_pipeline_with_kafka_spark.session import get_spark

        spark = get_spark(app_name="perfbench-lake", master=f"local[{cpus}]",
                          extra_conf=run._session_conf(build, traced=False))
        try:
            for table in catalog.TABLES:
                catalog.load_table(spark, sf_dir, table)
        finally:
            run._stop(spark)
        shutil.rmtree(lake_dir, ignore_errors=True)
        os.replace(os.path.join(build, "lake"), lake_dir)
        open(os.path.join(lake_dir, "_COMPLETE"), "w").close()
    finally:
        shutil.rmtree(build, ignore_errors=True)


if __name__ == "__main__":
    main(*sys.argv[1:3])
