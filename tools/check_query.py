"""Spot-check a subset of registry queries against their DuckDB twins
at sf0.01 — same verdicts as the full driver simulation (it delegates
to tools/drive_driver.compare_one, so the two can never drift).

Usage: python tools/check_query.py [--sf /root/testdata/sf0.1] name1 [name2 ...]

--sf overrides the gate scale factor (default sf0.01, the driver's).
Running the whole registry at sf0.1 is the scale-divergence sweep:
value-level bugs that only appear 10x past the driver's gate
(decimal-precision boundaries, tie-break instability under more ties,
overflow) show up here first.
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from lens_sds_batch_spark.session import get_spark
from tools.drive_driver import SF_GATE, TABLES, compare_one


def main():
    args = sys.argv[1:]
    sf_dir = SF_GATE
    if args and args[0] == "--sf":
        if len(args) < 2:
            raise SystemExit("--sf requires a directory argument")
        sf_dir = args[1]
        args = args[2:]
    names = args
    if not names:
        raise SystemExit("usage: check_query.py [--sf DIR] name1 [name2 ...]")
    spark = get_spark("check-query")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    qs, oracles = em.queries(), em.oracle_sql()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = [
        n
        for n in names
        if not compare_one(con, spark, n, qs[n], oracles.get(n), sf_dir=sf_dir)
    ]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
