"""Predicate-power audit: does the corpus actually exercise every
query's DISCRIMINATING paths at the gate SF?

The hash gate proves Spark == DuckDB on whatever the data contains —
it can't prove behavior on shapes the data lacks.  degeneracy_audit.py
catches constant OUTPUT columns; this tool catches vacuous INPUT
paths: a filter that never rejects, an EXISTS that never excludes, a
CASE branch that never fires, a tie path with no ties.  Each probe
returns (a, b); a path has power when a > 0 and (b is None or b > 0).

Since r11 the probes are COLOCATED with the operators: each module's
``PROBES`` dict sits next to its ``QUERIES`` and is aggregated by
``registry.all_probes()``, which FAILS LOUDLY when any registered
query lacks a probe — a new query cannot ship probe-less.  Probe
kinds: "corpus" (SQL over the raw testdata views) and "oracle" (SQL
over ``t`` = the query's materialized oracle output).

Known-vacuous paths are whitelisted here with the crafted-input test
that restores their power (tests/test_crafted_power.py etc.).  A NEW
vacuous path (e.g. after the driver regenerates testdata) exits
nonzero: either the new corpus shape is fine and the path belongs in
the whitelist WITH a crafted test, or a calibration broke.

Usage: python tools/power_audit.py [sf_dir]   (default sf0.01)
"""
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# probe name -> crafted test restoring its power
WHITELIST = {
    "q13 zero bucket (customers with no qualifying orders)":
        "test_q13_zero_bucket_preserved",
    "q15 max-revenue tie (suppliers at max)":
        "test_q15_revenue_ties_emit_all_suppliers (count probe: ties==1 "
        "means only the no-tie case is gated; >1 is MORE power, fine)",
    "q2 per-part min-cost tie":
        "test_q2_min_cost_ties_emit_all_winners",
    "full_outer unmatched sides (cust-only, supp-only nations)":
        "test_full_outer_extends_both_sides (supp-only never occurs at "
        "any SF; cust-only occurs at sf0.001 but not the gate)",
    "funnel lang_en stage cuts": "test_curation_funnel_every_stage_cuts "
        "(the corpus is all-English past the quality gate)",
    "funnel exact_dedup stage cuts": "test_curation_funnel_every_stage_cuts "
        "(the corpus has zero exact-duplicate texts)",
    "odm leaf-level remove constructors fire":
        "test_remove_at_leaf_levels (the synthetic tx mixers never put "
        "an explicit remove at ig/item level; the reference's "
        "remove-item-group/remove-item shapes are pinned there)",
    "documents contain non-ASCII text":
        "test_unicode_text_oracle_parity + test_unicode_odm.py (the "
        "corpus is pure ASCII; multi-byte md5/length/tokenization AND "
        "the ODM id-chain parity are gate-compared there over accented "
        "Latin, CJK, and astral-plane emoji)",
    "dedup exact arm collapses duplicates":
        "test_dedup_exact_with_real_duplicates (the corpus has zero "
        "exact-duplicate texts at any SF)",
    "dedup fingerprint normalization collapses variants":
        "test_dedup_fingerprint_normalizes_variants (no casing/punct "
        "variants of the same text exist in the corpus)",
    # found by the r11 registry-wide probe extension:
    "xml dead letters split fatal vs requeue-able":
        "test_route_parsed_null_retryable_is_fatal (crafted 3-way split "
        "incl. a retryable row) + test_streaming.py requeue tests; the "
        "checked-in XML corpus can only contain malformed-XML = fatal "
        "errors — IO-transient errors exist only live",
    "packing fills multi-doc bins and overflows to new bins":
        "test_pack_sequences_fills_multiple_bins (at the gate SF no "
        "(lang, source) group exceeds one token-budget bin)",
}


def main():
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    import __spark_entry__ as entry
    from lens_sds_batch_spark.operators.registry import all_probes

    oracles = entry.oracle_sql()
    probes = all_probes()  # raises if any registered query lacks a probe
    covered = {q for (q, _, _) in probes.values()}
    new_vacuous = []

    def judge(name, a, b):
        has_power = (a or 0) > 0 and (b is None or (b or 0) > 0)
        if has_power:
            print(f"{name}: ok {a, b}")
        elif name in WHITELIST:
            print(f"{name}: VACUOUS {a, b} [whitelisted -> {WHITELIST[name]}]")
        else:
            print(f"{name}: VACUOUS {a, b}  <<< NEW")
            new_vacuous.append(name)

    stale = sorted(set(WHITELIST) - set(probes))
    if stale:
        print(f"ERROR: whitelist entries with no matching probe: {stale}")
        sys.exit(2)

    materialized = set()
    for name, (query, kind, sql) in sorted(probes.items(), key=lambda kv: kv[1][0]):
        if kind == "oracle":
            if query not in materialized:
                con.execute(f'CREATE TABLE "oracle_{query}" AS ({oracles[query]})')
                materialized.add(query)
            sql = sql.replace("FROM t", f'FROM "oracle_{query}"')
        a, b = con.execute(sql).fetchone()
        judge(name, a, b)

    print(f"\n=== {len(probes)} probes over {len(covered)} queries "
          f"(registry coverage enforced by all_probes); "
          f"new vacuous paths: {len(new_vacuous)}; "
          f"whitelisted: {len(WHITELIST)}")
    sys.exit(1 if new_vacuous else 0)


if __name__ == "__main__":
    main()
