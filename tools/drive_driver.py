"""Driver-contract simulation: entry() smoke at sf0.001, then every
queries()[name] at sf0.01 hash-compared against oracle_sql()[name] in
DuckDB (sorted-column canonical tuple multisets)."""
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from lens_sds_batch_spark.session import get_spark
from tests.oracle_utils import assert_type_families

SF_SMOKE = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6f}"
    return str(v)


def rows_to_ms(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def compare_one(con, spark, name, fn, sql, sf_dir=SF_GATE) -> bool:
    """Run ONE registry query against its oracle and print the verdict
    line; returns True on OK.  Shared by the full driver simulation and
    tools/check_query.py so the spot-check tool can never drift from
    the simulation it mirrors.  ``sql=None`` = the driver's weaker
    rows-only check."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = sdf.collect()
        if sql is None:
            print(f"{name}: rows-only, {len(srows)} rows ran OK ({time.time()-t0:.1f}s)", flush=True)
            return True
        # ONE oracle execution: the Arrow table serves both the
        # type-family check and the row multiset (a second
        # fetchall() would re-run the whole oracle — 2x the heavy
        # ODM CTE chains per query).
        duck_arrow = con.execute(sql).arrow()
        ocols = duck_arrow.schema.names
        orows = list(zip(*(c.to_pylist() for c in duck_arrow.columns)))
        if sorted(scols) != sorted(ocols):
            print(f"{name}: SCHEMA MISMATCH spark={sorted(scols)} duck={sorted(ocols)}", flush=True)
            return False
        # The real driver's hash is TYPE-sensitive (DuckDB sum(INTEGER)
        # -> HUGEINT hashes differently from Spark BIGINT even with
        # equal values) — reuse the pytest-side family check so the
        # simulation reproduces that sensitivity instead of passing an
        # uncast oracle aggregate the driver would fail.
        try:
            assert_type_families(sdf, duck_arrow)
        except AssertionError as e:
            print(f"{name}: TYPE-FAMILY MISMATCH {e}", flush=True)
            return False
        sms = rows_to_ms(srows, scols)
        oms = rows_to_ms(orows, ocols)
        if len(sms) != len(oms):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(sms)} duck={len(oms)}", flush=True)
            return False
        if sms != oms:
            diff = next(i for i, (a, b) in enumerate(zip(sms, oms)) if a != b)
            print(f"{name}: VALUE MISMATCH at sorted-row {diff}:\n  spark={sms[diff]}\n  duck ={oms[diff]}", flush=True)
            return False
        print(f"{name}: OK {len(sms)} rows ({time.time()-t0:.1f}s)", flush=True)
        return True
    except Exception as e:  # noqa: BLE001
        print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}", flush=True)
        return False


def main():
    spark = get_spark("drive-driver")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    # t1 smoke
    df = em.entry(spark)
    n = df.count()
    print(f"entry(): {n} rows, schema ok", flush=True)
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_GATE}/{t}.parquet'")

    qs = em.queries()
    oracles = em.oracle_sql()
    bad = [
        name
        for name, fn in qs.items()
        if not compare_one(con, spark, name, fn, oracles.get(name))
    ]
    print(f"\n=== {len(qs) - len(bad)}/{len(qs)} OK; failures: {bad}", flush=True)
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
