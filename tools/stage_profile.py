"""Per-stage profile of contract queries from Spark's event log.

Runs named queries through the bench measurement window (build +
noop-sink exec) in ONE session, each under its own job group.  The
event log is switched on through launch conf; after the session stops,
``perfbench.spans.read_event_log`` (the benchmark's reader) turns it
into per-stage figures: task count, executor run and CPU time, wall
(first task launch to last task finish), shuffle-write, spill and
output bytes, and the operator scope names of the stage.

Usage: python tools/stage_profile.py [--sf-dir /root/testdata/sf0.1] q1 q2 ...
The full report goes to /tmp/stage_profile.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.spans import read_event_log  # noqa: E402


def _stage(sid: int, tasks: list, scopes: set[str]) -> dict:
    return {
        "stage": sid,
        "scopes": ",".join(sorted(scopes)),
        "tasks": len(tasks),
        "run_s": round(sum(t.run_s for t in tasks), 2),
        "cpu_s": round(sum(t.cpu_s for t in tasks), 2),
        "wall_s": round(max(t.finish for t in tasks) - min(t.launch for t in tasks), 2),
        "sh_w_mb": round(sum(t.shuffle_write for t in tasks) / 1e6, 1),
        "spill_mb": round(sum(t.spill for t in tasks) / 1e6, 1),
        "out_mb": round(sum(t.written for t in tasks) / 1e6, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", args.sf_dir)
    # launch conf, read when get_spark starts the JVM (as perfbench/run.py
    # does); read_event_log wants an uncompressed, non-rolling log
    log_dir = tempfile.mkdtemp(prefix="stage-profile-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={log_dir} "
        "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
        "pyspark-shell"
    )
    from lens_sds_batch_spark.session import get_spark

    spark = get_spark("stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    from __spark_entry__ import queries

    qs = queries()
    sf_dir = args.sf_dir
    # same warm-up as bench.py
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).groupBy(
        "l_returnflag"
    ).count().write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext
    timings = {}
    for name in args.queries:
        sc.setJobGroup(name, name)
        b0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        build = time.perf_counter() - b0
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        timings[name] = (build, time.perf_counter() - t0)
        sc.setJobGroup(None, None)
    spark.stop()
    jobs, scopes = read_event_log(log_dir)
    shutil.rmtree(log_dir)

    report = {}
    for name, (build, exec_s) in timings.items():
        mine = [j for j in jobs if j.group == name]
        by_stage: dict[int, list] = {}
        for j in mine:
            for t in j.tasks:
                by_stage.setdefault(t.stage, []).append(t)
        stages = [_stage(sid, ts, scopes.get(sid, set())) for sid, ts in by_stage.items()]
        stages.sort(key=lambda s: -s["run_s"])
        n_tasks = sum(s["tasks"] for s in stages)
        report[name] = {
            "build_s": round(build, 2),
            "exec_s": round(exec_s, 2),
            "n_jobs": len(mine),
            "n_stages": len(stages),
            "n_tasks": n_tasks,
            "stages": stages,
        }
        print(f"== {name}: build {build:.2f}s exec {exec_s:.2f}s, "
              f"{len(mine)} jobs / {len(stages)} stages / {n_tasks} tasks", flush=True)
        for s in stages[:12]:
            print(
                f"   stage {s['stage']:>4} run {s['run_s']:>7.2f}s cpu {s['cpu_s']:>7.2f}s "
                f"wall {s['wall_s']:>6.2f}s tasks {s['tasks']:>4} shW {s['sh_w_mb']:>6.1f}MB "
                f"spill {s['spill_mb']:>6.1f}MB out {s['out_mb']:>6.1f}MB  {s['scopes'][:90]}",
                flush=True,
            )
    with open("/tmp/stage_profile.json", "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
