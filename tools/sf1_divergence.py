"""sf1-grain value-divergence sweep (r10 verdict #2; r11 verdict #4).

The dual-SF oracle sweep (sf0.01 gate + sf0.1 full-registry hash
verification) excludes value-level scale divergence only up to sf0.1.
This tool pushes the FULL REGISTRY one decade further: it builds a
key-consistent 10x replication of sf0.1 (~6M lineitem — the sf1 grain;
facts replicated with stride-offset keys, dims fixed, documents
near-duplicated — scale_smoke.build_scaled, the repo's sanctioned
scaled-corpus builder) and verifies every query against its DuckDB
oracle at that grain.

Two compare paths, routed AUTOMATICALLY by output size (r11 verdict #4
— the r11 sweep hit spark.driver.maxResultSize because compare_one
collects both sides; odm_commands emits ~2.5M x 14 columns here):

- <= DIGEST_ROWS rows: the full gate compare (drive_driver.compare_one:
  schema + type families + value multiset), strongest — per-row diffs.
- >  DIGEST_ROWS rows: ENGINE-SIDE DIGEST — count(*) plus the sum of a
  48-bit integer parsed from each row's md5 over the canonicalized
  sorted-column payload, computed inside EACH engine (nothing large is
  collected).  Order-insensitive and multiplicity-sensitive: equal
  multisets <=> equal (count, hash-sum) modulo md5 collision.

Digest canonicalization (must be IDENTICAL across engines, which is a
stricter requirement than matching compare_one's Python-side canon):
strings pass through; int/bigint/boolean cast to VARCHAR (both engines
print 123 / true identically); double/float map NaN -> the NULL marker
(compare_one's convention), +-inf -> sentinel strings, magnitudes >=
9e12 -> %.3e (absent in this registry's outputs today — the branch
exists so an overflow can't silently wrap), else floor(x * 1e6) cast
BIGINT cast VARCHAR — floor of the SAME double is exact in both
engines, where printf('%.6f') is not (Java rounds HALF_UP, C
round-half-even).  NOTE floor truncates where compare_one's %.6f
rounds: the digest is a *different* canonicalization with the same
1e-6 cliff structure, self-consistent across engines; run --pin to
sanity-check digest-vs-full agreement on the whole registry at gate SF
(recorded green in NOTES.md r12).  Any other dtype raises loudly.

Usage:
  python tools/sf1_divergence.py                 # full registry at sf1
  python tools/sf1_divergence.py q1,tpch_pack    # subset at sf1
  python tools/sf1_divergence.py --pin           # digest==full sanity pin at sf0.01

Writes the scaled corpus under /tmp/lens_scale_smoke (re-created,
removed on success).  Runtime: hours for the full registry — the DuckDB
side of tpch_pack's correlated-subquery arms dominates; per-query
wall-clock is printed for NOTES.md.
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

from lens_sds_batch_spark.session import get_spark  # noqa: E402
from tools.scale_smoke import BASE_TMP, build_scaled  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Above this, collecting both sides into Python courts
# spark.driver.maxResultSize / driver RSS — digest instead.
DIGEST_ROWS = 1_500_000

_SEP = "\x1f"
_NULL = "<NULL>"
_HEXPOS = "0123456789abcdef"
_BIG = 9e12  # |x| beyond this overflows the 1e6-scaled BIGINT lattice


def _canon_spark(col, t):
    from pyspark.sql import functions as F

    if t == "string":
        e = col
    elif t in ("tinyint", "smallint", "int", "bigint"):
        e = col.cast("string")
    elif t == "boolean":
        e = col.cast("string")
    elif t in ("float", "double"):
        d = col.cast("double")
        e = (
            F.when(F.isnan(d), F.lit(None).cast("string"))
            .when(d == float("inf"), F.lit("<INF>"))
            .when(d == float("-inf"), F.lit("<-INF>"))
            .when(F.abs(d) >= _BIG, F.format_string("%.3e", d))
            .otherwise(F.floor(d * 1e6).cast("bigint").cast("string"))
        )
    else:
        raise AssertionError(f"digest compare: unsupported Spark dtype {t}")
    return F.coalesce(e, F.lit(_NULL))


def _canon_duck(c, t):
    """DuckDB twin of _canon_spark, driven by the SPARK dtype (the
    type-family gate already pins the engines to the same families;
    casting the DuckDB side through DOUBLE/VARCHAR absorbs
    HUGEINT-vs-BIGINT width differences)."""
    q = f'"{c}"'
    if t == "string":
        e = q
    elif t in ("tinyint", "smallint", "int", "bigint"):
        e = f"CAST({q} AS VARCHAR)"
    elif t == "boolean":
        e = f"CAST({q} AS VARCHAR)"
    elif t in ("float", "double"):
        d = f"CAST({q} AS DOUBLE)"
        e = (
            f"CASE WHEN isnan({d}) THEN NULL"
            f" WHEN {d} = 'infinity'::DOUBLE THEN '<INF>'"
            f" WHEN {d} = '-infinity'::DOUBLE THEN '<-INF>'"
            f" WHEN abs({d}) >= {_BIG} THEN printf('%.3e', {d})"
            f" ELSE CAST(CAST(floor({d} * 1e6) AS BIGINT) AS VARCHAR) END"
        )
    else:
        raise AssertionError(f"digest compare: unsupported dtype {t}")
    return f"coalesce({e}, '{_NULL}')"


def _digest_compare(con, spark, name, sdf, sql) -> bool:
    """Engine-side (count, 48-bit-md5-sum) multiset digest over the
    canonicalized sorted-column payload; nothing row-shaped crosses an
    engine boundary."""
    from pyspark.sql import functions as F

    t0 = time.time()
    types = dict(sdf.dtypes)
    cols = sorted(sdf.columns)
    payload = F.concat_ws(_SEP, *[_canon_spark(F.col(c), types[c]) for c in cols])
    srow = (
        sdf.select(F.md5(payload).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.conv(F.substring("h", 1, 12), 16, 10).cast("decimal(38,0)"))
            .alias("s"),
        )
        .collect()[0]
    )
    t_spark = time.time() - t0

    dpayload = f" || '{_SEP}' || ".join(_canon_duck(c, types[c]) for c in cols)
    # DuckDB v1.0 has no hex->int cast; parse 12 nibbles positionally
    nib = " + ".join(
        f"(strpos('{_HEXPOS}', substr(h, {i}, 1)) - 1) * {16 ** (12 - i)}::HUGEINT"
        for i in range(1, 13)
    )
    drow = con.execute(
        f"SELECT count(*), sum({nib}) FROM "
        f"(SELECT md5({dpayload}) AS h FROM ({sql}))"
    ).fetchone()
    t_duck = time.time() - t0 - t_spark
    ok = (srow["n"], int(srow["s"] or 0)) == (drow[0], int(drow[1] or 0))
    print(
        f"{name}: {'OK' if ok else 'MISMATCH'} digest "
        f"spark=({srow['n']}, {srow['s']}) duck=({drow[0]}, {drow[1]}) "
        f"(spark {t_spark:.1f}s, duck {t_duck:.1f}s)",
        flush=True,
    )
    return ok


def _connect(data_dir: str):
    import os

    con = duckdb.connect()
    for t in TABLES:
        # scaled fact tables are parquet DIRECTORIES; dims are single files
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{data_dir}/{t}.parquet/*.parquet', union_by_name=false)"
            if os.path.isdir(f"{data_dir}/{t}.parquet")
            else f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
        )
    return con


def pin_digest_against_full(spark, names=None) -> int:
    """Sanity pin (r11 verdict #4): at the GATE scale, the digest path
    must agree with the full compare on every registry query — OK with
    OK.  Run after any change to the canonicalization."""
    import __spark_entry__ as em
    from tools.drive_driver import compare_one

    qs, oracles = em.queries(), em.oracle_sql()
    gate = "/root/testdata/sf0.01"
    con = _connect(gate)
    bad = []
    for name in names or qs:
        sdf = qs[name](spark, gate)
        full = compare_one(con, spark, name, lambda *_: sdf, oracles[name],
                           sf_dir=gate)
        dig = _digest_compare(con, spark, name, sdf, oracles[name])
        if full != dig:
            print(f"{name}: PIN FAILURE full={full} digest={dig}", flush=True)
            bad.append(name)
    print(f"\n=== digest-vs-full pin: {len(bad)} disagreements; {bad}")
    return 1 if bad else 0


def main():
    args = [a for a in sys.argv[1:] if a != "--pin"]
    names = args[0].split(",") if args else None
    import __spark_entry__ as em
    from tools.drive_driver import compare_one

    qs, oracles = em.queries(), em.oracle_sql()
    spark = get_spark("sf1-divergence")
    spark.sparkContext.setLogLevel("ERROR")

    if "--pin" in sys.argv[1:]:
        sys.exit(pin_digest_against_full(spark, names))

    names = names or list(qs)
    unknown = set(names) - set(qs)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")

    t0 = time.time()
    scaled = build_scaled(spark, "/root/testdata/sf0.1", 10)
    print(f"built 10x sf0.1 corpus in {time.time() - t0:.0f}s", flush=True)
    con = _connect(scaled)

    failures = []
    for name in names:
        t1 = time.time()
        try:
            sdf = qs[name](spark, scaled)
            n = sdf.count()
            if n > DIGEST_ROWS:
                ok = _digest_compare(con, spark, name, sdf, oracles[name])
            else:
                ok = compare_one(con, spark, name, lambda *_: sdf,
                                 oracles[name], sf_dir=scaled)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}", flush=True)
            ok = False
        print(f"  [{name}] total {time.time() - t1:.0f}s", flush=True)
        if not ok:
            failures.append(name)
    print(f"\n=== sf1 sweep: {len(names) - len(failures)}/{len(names)} OK; "
          f"failures: {failures}")
    if not failures:
        shutil.rmtree(BASE_TMP, ignore_errors=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
