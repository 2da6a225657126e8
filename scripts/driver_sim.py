"""Driver simulation: run the `__spark_entry__` contract the way an
external driver does and hash-check every query against DuckDB.

The session is a DEFAULT-conf ``local[8]`` (ANSI on, 200 shuffle
partitions), started from a foreign cwd (/tmp), so the engine must set
its own runtime confs and its UDFs must not import this repo on
executors. Every entry in ``queries()`` runs at sf0.01; entries with an
``oracle_sql()`` twin are compared with ``tests.oracle.compare``, the
rest must at least execute. Prints one ``driver-sim:`` summary line and
exits non-zero on any failure.

Usage: python scripts/driver_sim.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, REPO)
    os.chdir("/tmp")
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as se
    from tests.conftest import SF_CORRECTNESS as sf
    from tests.oracle import compare, duckdb_connection

    con = duckdb_connection(sf)
    qs, osql = se.queries(), se.oracle_sql()
    fails = []
    for name in sorted(qs):
        try:
            if name in osql:
                compare(qs[name](spark, sf), con, osql[name])
            else:
                assert qs[name](spark, sf).count() >= 0
        except Exception as ex:
            fails.append((name, str(ex)[:150]))
    print(
        f"driver-sim: entry={se.entry(spark).count()} total={len(qs)} "
        f"oracle={len(osql)} failures={len(fails)}"
    )
    for f in fails:
        print(" FAIL", f)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
