"""Regenerate the golden digests of the entity_store workload's XML
imports.

    python3 perfbench/golden.py 0.02 0.002

For each scale factor: render the ODM XML corpus of the synthetic
inputs, check the parsed and routed rows of the whole corpus against
the package's DuckDB oracle for ``odm_xml_ingest``, then import every
file and record its command count, command digest and dead-letter
count in ``golden.json``.  Per-file command generation has no oracle
twin, so its digests are pinned here instead.  The oracle renders its
own file fan, so the corpus check leaves ``file_oid`` out.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main(sfs: list[float]) -> None:
    run_dir = os.path.join(run.ROOT, ".perfbench_run", f"golden-{os.getpid()}")
    os.makedirs(run_dir)
    sys.path[:0] = [run.HERE, run.ROOT]
    path = os.path.join(run.HERE, "golden.json")
    try:
        run.setup_env(run_dir, trace=False)
        from pyspark.sql import functions as F

        import inputs
        import spans
        import workloads
        from lens_sds_batch_spark.operators.xml_ingest import OUT_COLS, QUERIES
        from lens_sds_batch_spark.session import get_spark
        from lens_sds_batch_spark.sources.odm_xml import read_odm_xml, route_parsed

        spark = get_spark("perfbench-golden", os.cpu_count() or 4)
        golden = {}
        for sf in sfs:
            data = os.path.join(run_dir, f"data-{sf}")
            inputs.write_tables(data, sf)
            ctx = workloads.Ctx(spark, spans.Tracer(spark.sparkContext, False), run_dir, data, sf, 0)
            files = workloads.render_corpus(ctx, os.path.join(run_dir, f"xml-{sf}"))
            valid, retry, fatal = route_parsed(read_odm_xml(spark, [p for _, p in files]))
            cols = [c for c in OUT_COLS if c != "file_oid"]
            routed = valid.select(*cols, F.lit(0).alias("is_error"), F.lit(0).alias("is_fatal")) \
                .unionByName(retry.select(*cols, F.lit(1).alias("is_error"), F.lit(0).alias("is_fatal"))) \
                .unionByName(fatal.select(*cols, F.lit(1).alias("is_error"), F.lit(1).alias("is_fatal")))
            cols += ["is_error", "is_fatal"]
            con = workloads.duck_views(data, ("customer", "orders", "lineitem"))
            want = workloads.duck_digest(con, QUERIES["odm_xml_ingest"][1], cols)
            got = workloads.spark_digest(routed, cols)
            if got != want:
                raise SystemExit(f"sf {sf}: parsed rows {got} differ from the DuckDB oracle {want}")
            entry = {}
            for f, p in files:
                rows, dead = workloads.import_file(ctx, f, p)
                n, h = workloads.py_digest(rows)
                keys = [k for k, _ in workloads.item_rows(rows)]
                if len(keys) != len(set(keys)):
                    # the store step sends one row per item key and step
                    raise SystemExit(f"sf {sf}: file {f} names an item key twice")
                entry[f] = {"commands": n, "digest": str(h), "dead_letters": dead}
            golden[str(sf)] = entry
            print(f"sf {sf}: {len(entry)} files, parsed rows match the oracle ({want[0]} rows)")
    finally:
        run.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    with open(path, "w") as f:
        json.dump({"xml": golden}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main([float(a) for a in sys.argv[1:]] or [0.02, 0.002])
