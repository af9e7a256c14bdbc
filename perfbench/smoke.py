"""Self-test of the benchmark's own code at small scale (sf0.001 for
bulk_import, sf0.002 for entity_store).

    python3 perfbench/smoke.py

Runs every workload for a few requests, untraced and traced, through
the same command line the benchmark is run with, and asserts that each
run is correct and emits exactly the metrics BENCHMARK.json names.
Then forces one request to be checked against a wrong expectation, and
in a traced run one commit to raise, and asserts that both are counted
as failed.  A public API change the benchmark depends on (a renamed
argument of ``merge_into``, say) makes this fail.  Takes about eight
minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


SMOKE_SF = {"bulk_import": "0.001", "entity_store": "0.002"}


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", SMOKE_SF[workload], *extra]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    assert [w["name"] for w in spec["workloads"]] == list(SMOKE_SF)
    for workload in SMOKE_SF:
        for trace in (0, 1):
            res = bench(workload, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2, res
            assert set(res["metrics"]) == names[trace], set(res["metrics"]) ^ names[trace]
            for name, m in res["metrics"].items():
                assert isinstance(m["value"], (int, float)) and m["unit"], (name, m)
            if trace == 0:
                assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]
            print(f"ok {workload} trace={trace} attempted={res['attempted']}")
    res = bench("bulk_import", 0, "--fail-ops", "3")
    assert not res["correct"] and res["failed"] == 1, res
    print("ok a request checked against a wrong expectation counts as failed")
    res = bench("entity_store", 1, "--raise-ops", "2")
    assert not res["correct"] and res["failed"] >= 1, res
    assert res["metrics"]["plans.merge.merge_into.commit_failures"]["value"] == 1, res["metrics"]
    print("ok a commit that raises counts as failed and as a commit failure in a traced run")


if __name__ == "__main__":
    main()
