"""Non-degeneracy audit: a hash-green query can still be VACUOUSLY
green (both engines agreeing on an all-NULL column, an empty result,
or a constant column) — r6 found exactly that in asof_join, whose
backward arm was all-NULL because the synthetic orders and events
calendars are disjoint.  This tool runs every contract query at
sf0.01 and reports, per column: null fraction and distinct count,
flagging all-NULL columns, zero-row results, and single-valued
columns.

The adjudicated SEMANTIC degeneracies live in WHITELIST below with
their reason strings (previously NOTES.md prose — r9 verdict #7), so
the audit is zero-flags-by-default: exit 0 when every observed flag is
whitelisted, exit 2 on any NEW degeneracy.  A whitelisted flag that is
no longer observed prints a staleness warning (update the whitelist).

Usage: python tools/degeneracy_audit.py [sf_dir]
"""
from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from lens_sds_batch_spark.session import get_spark  # noqa: E402

# (query, flag) -> why the degeneracy is semantic rather than a loss of
# test power.  Crafted-input tests (tests/test_crafted_power.py) restore
# the power the synthetic corpus can't exercise.
WHITELIST: dict[tuple[str, str], str] = {
    ("odm_commands", "CONSTANT:sub"): "single-file ODM corpus: one subject OID per file by construction",
    ("odm_commands", "CONSTANT:file_oid"): "single-file ODM corpus: envelope file-oid is one literal",
    ("odm_commands", "CONSTANT:item_group_oid"): "one IG1 group per form in the derived tree (flagship derivation)",
    ("odm_commands_uuid5", "CONSTANT:sub"): "same frame as odm_commands",
    ("odm_commands_uuid5", "CONSTANT:file_oid"): "same frame as odm_commands",
    ("odm_commands_uuid5", "CONSTANT:item_group_oid"): "same frame as odm_commands",
    ("odm_commands_uuid5", "CONSTANT:ids_wellformed"): "oracle-pinned bound flag: every uuid must be wellformed, constant-true IS the assertion",
    ("dedup_basic_pack", "CONSTANT:n_copies"): "corpus has zero exact-dup texts (n_copies==1 everywhere); crafted-power test injects real dups",
    ("doc_features_pack", "CONSTANT:predicted_lang"): "all synthetic docs score English at the gate; crafted-power test exercises es/de/fr",
    ("pack_sequences", "CONSTANT:bin"): "every (lang,source) shard fits one PACK_BUDGET bin at sf0.01; crafted-power test overflows bins",
    ("requeue_routing", "CONSTANT:m_ok"): "DurableMetrics suite total broadcast onto every row — the oracle pins the tally",
    ("requeue_routing", "CONSTANT:m_requeued"): "suite total broadcast onto every row (see m_ok)",
    ("requeue_routing", "CONSTANT:m_dead"): "suite total broadcast onto every row (see m_ok)",
    ("odm_xml_ingest", "CONSTANT:item_group_oid"): "one IG1 group per form, matching the flagship derivation",
    ("agg_percentile_pack", "CONSTANT:v2"): "n_part is returnflag-invariant in the data (every flag sees every part); other arms NULL",
    ("approx_sketches", "CONSTANT:n_parts_exact"): "oracle-pinned bound flag (constant-true IS the assertion)",
    ("approx_sketches", "CONSTANT:hll_within_20pct"): "oracle-pinned bound flag (constant-true IS the assertion)",
    ("approx_sketches", "CONSTANT:median_within_rank_band"): "oracle-pinned bound flag (constant-true IS the assertion)",
    ("dedup_coverage", "CONSTANT:docs_probe_truncated"): "JACCARD_PROBE_CAP binds only past ~149 distinct words; corpus max is below it (0 at every SF) — tests/test_dedup_coverage.py crafts the truncated case",
    ("curation_funnel", "CONSTANT:n_bypassed"): "only the near_dup_pruned stage carries the bypass count (one non-NULL row by design, like a pack arm's NULL padding); its value is oracle-pinned and probed non-zero",
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("degeneracy-audit")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    new_flags: dict[str, list[str]] = {}
    observed: set[tuple[str, str]] = set()
    for name, fn in em.queries().items():
        df = fn(spark, sf_dir)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in df.columns:
            aggs.append(F.count(F.col(c)).alias(f"nn::{c}"))
            aggs.append(F.count_distinct(F.col(c)).alias(f"nd::{c}"))
        r = df.agg(*aggs).collect()[0].asDict()
        n = r["__n"]
        flags = []
        if n == 0:
            flags.append("ZERO_ROWS")
        for c in df.columns:
            if n and r[f"nn::{c}"] == 0:
                flags.append(f"ALL_NULL:{c}")
            elif n > 1 and r[f"nd::{c}"] == 1:
                flags.append(f"CONSTANT:{c}")
        fresh = []
        for fl in flags:
            if (name, fl) in WHITELIST:
                observed.add((name, fl))
            else:
                fresh.append(fl)
        status = "; ".join(
            (f"{fl} [whitelisted]" if (name, fl) in WHITELIST else f"{fl} <-- NEW")
            for fl in flags
        ) if flags else "ok"
        print(f"{name}: rows={n} {status}", flush=True)
        if fresh:
            new_flags[name] = fresh
    stale = sorted(set(WHITELIST) - observed)
    for name, fl in stale:
        print(f"WARNING stale whitelist entry no longer observed: {name} / {fl}")
    print(f"\n=== new degeneracies: {len(new_flags)}"
          + (f" {new_flags}" if new_flags else "")
          + f"; whitelisted observed: {len(observed)}/{len(WHITELIST)}")
    spark.stop()
    if new_flags:
        sys.exit(2)


if __name__ == "__main__":
    main()
