"""Physical-plan audit across the whole query surface -> PLANS.md.

Covers BOTH the registry and the two flagship queries registered in
``__spark_entry__`` (the suite's most expensive plans — r9 verdict #1).
For every query: count exchanges / joins / scans, extract pushed
filters, and flag anti-patterns (cartesian products, scans without
column pruning, row-at-a-time Python evals in the plan).

Audit mode (``session.audit_checkpoints``) sees through localCheckpoint
lineage truncation: lazy checkpoints are skipped so the final plan keeps
its real scans, and eager checkpoints (convergence loops, funnel stages)
record their pre-checkpoint plan, which this audit folds into the
query's counted text — so doc_features_pack / dedup_clusters /
odm_xml_ingest report their true scan/pushdown counts instead of 0.

Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from lens_sds_batch_spark import session  # noqa: E402
from lens_sds_batch_spark.session import get_spark  # noqa: E402


def audit(name, df, extra_plans=()) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Origin plans of eager checkpoints run as part of this query; the
    # final plan references only their truncated results, so the texts
    # are non-overlapping and the counts sum honestly.
    plan = "\n".join([plan, *extra_plans])
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BatchEvalPython" in plan:
        flags.append("ROW_PYTHON_UDF")
    widest = max((len(s.split(",")) for s in schemas), default=0)
    return {
        "name": name,
        "exchanges": plan.count("Exchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "arrow_udf": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        # NB "FileScan parquet" contains BOTH needles — subtract the
        # overlap so one scan counts once (v2 BatchScan prints "Scan
        # parquet" without "FileScan" and still counts).
        "scans": plan.count("FileScan")
        + plan.count("Scan parquet")
        - plan.count("FileScan parquet"),
        "widest_scan_cols": widest,
        "pushed": sum(1 for p in pushed if p.strip()),
        "ckpt_origins": len(extra_plans),
        "flags": ",".join(flags) or "-",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    from lens_sds_batch_spark.operators.registry import spark_queries

    import __spark_entry__ as entry

    all_queries = dict(spark_queries())
    for name, builder in entry.queries().items():
        all_queries.setdefault(name, builder)

    session.audit_checkpoints(True)
    rows = []
    for name, builder in sorted(all_queries.items()):
        try:
            session.drain_audit_plans()  # clear residue from the previous query
            df = builder(spark, sf_dir)
            rows.append(audit(name, df, extra_plans=session.drain_audit_plans()))
        except Exception as exc:  # audit must never break the build
            rows.append({"name": name, "flags": f"AUDIT_ERROR:{type(exc).__name__}", "exchanges": "-",
                         "bhj": "-", "smj": "-", "arrow_udf": "-", "scans": "-",
                         "widest_scan_cols": "-", "pushed": "-", "ckpt_origins": "-"})
    session.audit_checkpoints(False)
    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Initial (pre-AQE) executed plans at {sf_dir}, registry + __spark_entry__",
        "flagships. `pushed` = scans with non-empty PushedFilters;",
        "`widest_scan_cols` shows column pruning (compare against the table's",
        "full width). `ckpt origins` = eager-checkpoint origin plans folded into",
        "the counts (audit mode skips lazy checkpoints entirely, so shared-scan",
        "lineage stays visible). Flags mark anti-patterns.",
        "",
        "| query | exchanges | broadcastHJ | sortMergeJ | arrow/pandas | scans | widest scan cols | pushed scans | ckpt origins | flags |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['exchanges']} | {r['bhj']} | {r['smj']} | {r['arrow_udf']} | "
            f"{r['scans']} | {r['widest_scan_cols']} | {r['pushed']} | {r['ckpt_origins']} | {r['flags']} |"
        )
    with open(ROOT / "PLANS.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"PLANS.md written ({len(rows)} queries)")
    flagged = [r for r in rows if r["flags"] not in ("-",) and not str(r["flags"]).startswith("AUDIT")]
    if flagged:
        print("FLAGGED:", [(r["name"], r["flags"]) for r in flagged])
    spark.stop()


if __name__ == "__main__":
    main()
