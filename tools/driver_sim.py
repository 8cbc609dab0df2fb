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
    from check_correctness import TABLES, check_gate
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
    n_fail = 0
    for name in qs:
        verdict: dict = {}
        problems = check_gate(spark, con, sf_dir, name, verdict)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)[:300]}")
            n_fail += 1
        else:
            print(f"pass  {name}: rows={verdict['spark_rows']}")
    n_entry = E.entry(spark).count()
    print(f"entry rows: {n_entry}")
    print(f"{len(qs) - n_fail} pass, {n_fail} fail (tz={tz})")
    return 1 if n_fail or n_entry <= 0 else 0


if __name__ == "__main__":
    sys.exit(main())
