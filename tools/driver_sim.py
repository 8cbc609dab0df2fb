"""Driver-environment simulation of the correctness gate.

Unlike tools/check_correctness.py (which uses this repo's tuned session),
this runs every __spark_entry__ query under a deliberately hostile
SparkSession — non-UTC timezone, default configs, modest parallelism —
approximating whatever session the driver's harness builds. Catches
environment-coupling bugs (session-timezone-dependent casts, config
assumptions) that the tuned gate hides.

Usage: python tools/driver_sim.py [sf_dir] [timezone]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    tz = sys.argv[2] if len(sys.argv) > 2 else "America/New_York"

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from check_correctness import TABLES, value_hash
    from pdf_parser_spark.generator import table_path

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = E.queries()
    oracles = E.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
            if name not in oracles:
                # oracle-less query (iterative algorithm): the driver
                # records the weaker rows-only check — mirror that here
                print(f"weak   {name}: rows={len(got)} (no oracle)")
                continue
            want = con.sql(oracles[name]).df()
            ok = (len(got) == len(want)
                  and sorted(got.columns) == sorted(want.columns)
                  and value_hash(got) == value_hash(want))
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: {str(exc)[:150]}")
            n_fail += 1
            continue
        print(("pass " if ok else "FAIL ") + f" {name}: rows={len(got)}")
        n_fail += (not ok)
    n_entry = E.entry(spark).count()
    print(f"entry rows: {n_entry}")
    print(f"{len(qs) - n_fail} pass, {n_fail} fail (tz={tz})")
    return 1 if n_fail or n_entry <= 0 else 0


if __name__ == "__main__":
    sys.exit(main())
