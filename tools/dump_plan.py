"""Dump .explain('formatted') for named contract queries to files.

Each query is planned in its own fresh process (and JVM): optimizer
choices that follow expression-id order (a distinct aggregate's Expand
gid assignment) would otherwise depend on which queries were planned
before it in the same session.

Usage: python tools/dump_plan.py --out plans/r15 --suffix before q1 q2 ...
"""
from __future__ import annotations

import argparse
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    if len(args.queries) > 1:
        for name in args.queries:
            subprocess.run(
                [sys.executable, __file__, "--out", args.out, "--suffix", args.suffix,
                 "--sf-dir", args.sf_dir, name],
                check=True,
            )
        return

    from lens_sds_batch_spark.session import get_spark

    spark = get_spark("dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    from __spark_entry__ import queries

    name = args.queries[0]
    df = queries()[name](spark, args.sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
