"""Driver-mimic: t1 smoke + t2 oracle sweep with a VANILLA session.

Mirrors the grading driver's consumption of ``__spark_entry__.py``:

- builds a *vanilla* ``local[32]`` SparkSession (shuffle=32, NOT the
  engine's tuned builder — the driver uses its own session, so any
  dependence on our session config is a bug this script must catch),
- t1: calls ``entry(spark)`` and asserts >0 rows,
- t2: for every named ``queries()`` entry (all of them when none are
  named) runs Spark at each ``--sf`` dir and the matching
  ``oracle_sql()`` in DuckDB over the same parquet views, comparing with
  ``tests.oracle_utils.assert_frames_match``: order-insensitive and
  EXACT (no float tolerance, no cast of the oracle to Spark's dtypes —
  the engine owes determinism via decimal-accumulated aggregates).

This is the one oracle-compare tool: use it with a few names as the
inner loop while developing a query, and ``tools/dump_plans.py`` for
plans.

Also flags oracle output columns whose DuckDB dtype round-trips badly
through pandas (HUGEINT → float64, DECIMAL → object): those need an
explicit CAST in the oracle SQL or the driver's schema/hash compare can
mismatch even when values agree.

Usage: python tools/driver_mimic.py [NAME ...] [--sf DIR[,DIR...]]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def flag_fragile_oracle_dtypes(con, sql: str, name: str) -> list[str]:
    """Return warnings for oracle columns that leave DuckDB as HUGEINT
    or DECIMAL: pandas maps HUGEINT to float64 (silent precision loss
    past 2^53) and DECIMAL to object (hash/schema mismatch vs Spark's
    float/int), so the oracle should CAST them explicitly."""
    rel = con.sql(sql)
    warnings = []
    for col, typ in zip(rel.columns, map(str, rel.types)):
        if typ in ("HUGEINT", "UHUGEINT") or typ.startswith("DECIMAL"):
            warnings.append(f"{name}: oracle column {col!r} is {typ} — CAST it")
    return warnings


def oracle_connection(sf: str, spill_dir: str):
    """DuckDB over ``sf``'s parquet, capped at a third of physical
    memory and spilling to ``spill_dir``. Unbounded, an oracle self-join
    (minhash_band_sweep's 16x1 candidates at sf0.1) beside the 16g driver
    JVM exhausts a 16 GB box; bounded, DuckDB spills (8.7 GB for that
    query), and by default it would spill to ``.tmp/`` in the working
    directory."""
    from tests.oracle_utils import duckdb_connection

    con = duckdb_connection(sf)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con.execute(f"SET memory_limit='{phys // 3 >> 20}MB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    return con


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    """Run t1 and the t2 sweep; 0 when every compare is exact. ``spark``
    defaults to a fresh vanilla session."""
    parser = argparse.ArgumentParser(prog="driver_mimic.py")
    parser.add_argument("names", nargs="*", help="queries to check (default: all)")
    parser.add_argument("--sf", default="/root/testdata/sf0.01",
                        help="comma-separated fixture dirs")
    args = parser.parse_args(argv)

    import __spark_entry__ as entrymod
    from tests.oracle_utils import assert_frames_match

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        parser.error(f"unknown query name(s): {', '.join(unknown)}")
    names = args.names or sorted(queries)

    if spark is None:
        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.driver.memory", "16g")
            .appName("driver-mimic")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")

    df = entrymod.entry(spark)
    n = df.count()
    print(f"t1 entry(): {n} rows, schema={[f.name for f in df.schema.fields]}")
    assert n > 0

    bad = []
    for sf in args.sf.split(","):
        # DuckDB's spill dir goes with its sf dir, never into the working dir
        spill = tempfile.TemporaryDirectory(prefix="driver-mimic-spill-")
        con = oracle_connection(sf, spill.name)
        ok, dtype_warnings = 0, []
        t_start = time.time()
        for i, name in enumerate(names):
            try:
                if name not in oracles:
                    raise AssertionError(f"{name}: no oracle SQL")
                spark_pdf = queries[name](spark, sf).toPandas()
                dtype_warnings += flag_fragile_oracle_dtypes(con, oracles[name], name)
                assert_frames_match(spark_pdf, con.sql(oracles[name]).df(), name)
                ok += 1
            except Exception as ex:
                bad.append(f"{sf}:{name}")
                print(f"FAIL {sf} {name}: {type(ex).__name__}: {str(ex)[:300]}")
                traceback.print_exc(limit=3)
            if (i + 1) % 25 == 0:
                print(f"  ... {i + 1}/{len(names)} ({time.time() - t_start:.0f}s)", flush=True)
        con.close()
        spill.cleanup()
        print(
            f"t2 sweep {sf}: {ok} oracle-exact, {len(names) - ok} FAILED "
            f"in {time.time() - t_start:.0f}s"
        )
        for w in dtype_warnings:
            print(f"  dtype warning: {w}")
    if bad:
        print("FAILED:", sorted(bad))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
