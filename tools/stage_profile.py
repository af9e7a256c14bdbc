"""Per-stage empirical profile of contract queries (optimization r14).

Guide §1.1 ("empirical: find where the time actually goes") without the
interactive UI: runs named queries through the bench measurement window
(build + noop-sink exec) in ONE session with the UI REST API enabled,
then attributes wall-clock to stages — executor run time, shuffle
read/write bytes, input bytes, task count — and maps stages back to the
query via per-query job groups.

Usage: python tools/stage_profile.py [--sf-dir /root/testdata/sf0.1] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--port", type=int, default=4049)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import os

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", args.sf_dir)
    # build the session OURSELVES with the UI on — session.get_spark
    # disables it; every other conf is get_spark's own (we only read
    # timings relative to each other, not against BASELINE.md)
    from lens_sds_batch_spark import session as sess

    def get_spark_ui(app_name="stage-profile", cpus=None):
        from pyspark.sql import SparkSession

        if SparkSession.getActiveSession():
            return SparkSession.getActiveSession()
        confs = {
            **sess.session_confs(cpus),
            "spark.ui.enabled": "true",
            "spark.ui.port": str(args.port),
        }
        return SparkSession.builder.appName(app_name).config(map=confs).getOrCreate()

    sess.get_spark = get_spark_ui
    spark = get_spark_ui()
    spark.sparkContext.setLogLevel("ERROR")
    from __spark_entry__ import queries

    qs = queries()
    sf_dir = args.sf_dir
    # same warm-up as bench.py
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).groupBy(
        "l_returnflag"
    ).count().write.format("noop").mode("overwrite").save()

    base = f"http://localhost:{args.port}/api/v1/applications/{spark.sparkContext.applicationId}"

    def api(path):
        with urllib.request.urlopen(base + path) as r:
            return json.load(r)

    report = {}
    for name in args.queries:
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        b0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        build = time.perf_counter() - b0
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs = [j for j in api("/jobs") if j.get("jobGroup") == name]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                for att in api(f"/stages/{sid}"):
                    if att["status"] == "SKIPPED":
                        continue
                    stages.append(
                        {
                            "stage": sid,
                            "name": att["name"].split("\n")[0][:90],
                            "tasks": att["numCompleteTasks"],
                            "run_s": round(att["executorRunTime"] / 1000.0, 2),
                            "cpu_s": round(att.get("executorCpuTime", 0) / 1e9, 2),
                            "in_mb": round(att["inputBytes"] / 1e6, 1),
                            "sh_r_mb": round(att["shuffleReadBytes"] / 1e6, 1),
                            "sh_w_mb": round(att["shuffleWriteBytes"] / 1e6, 1),
                            "wall_s": round(
                                (att.get("completionTime") is not None)
                                and (
                                    _ms(att["completionTime"]) - _ms(att["firstTaskLaunchedTime"])
                                )
                                / 1000.0
                                or 0,
                                2,
                            ),
                        }
                    )
            except Exception as e:  # noqa: BLE001
                stages.append({"stage": sid, "err": str(e)[:80]})
        stages.sort(key=lambda s: -(s.get("run_s") or 0))
        report[name] = {
            "build_s": round(build, 2),
            "exec_s": round(exec_s, 2),
            "n_jobs": len(jobs),
            "n_stages": len(stages),
            "stages": stages,
        }
        print(f"== {name}: build {build:.2f}s exec {exec_s:.2f}s, "
              f"{len(jobs)} jobs / {len(stages)} stages", flush=True)
        for s in stages[:12]:
            if "err" in s:
                continue
            print(
                f"   stage {s['stage']:>4} run {s['run_s']:>7.2f}s cpu {s['cpu_s']:>7.2f}s "
                f"wall {s['wall_s']:>6.2f}s tasks {s['tasks']:>4} in {s['in_mb']:>7.1f}MB "
                f"shR {s['sh_r_mb']:>6.1f}MB shW {s['sh_w_mb']:>6.1f}MB  {s['name']}",
                flush=True,
            )
    with open("/tmp/stage_profile.json", "w") as f:
        json.dump(report, f, indent=1)
    spark.stop()


def _ms(iso: str) -> float:
    from datetime import datetime

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fGMT").timestamp() * 1000


if __name__ == "__main__":
    main()
