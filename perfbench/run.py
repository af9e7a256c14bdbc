"""Benchmark of lens-sds-batch-spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

``--workload all`` runs every workload in turn, each in its own process.
Otherwise the command runs one workload in one process on
``local[nproc]``: builds the session, writes the synthetic inputs,
prepares the workload and sends its warm-up requests (one cycle, one
request of each of the workload's request kinds; two store steps in
entity_store).  Then it sends whole cycles in a
closed loop with one client while the next cycle is expected to end
within ``--seconds``; at least one cycle is measured.  Every request's
output is checked.  Human-readable lines go first; the last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.

Everything the run writes (inputs, renders, store tables, Spark scratch
and the event log) goes to ``.perfbench_run/`` in the checkout and is
removed when the run ends.  See perfbench/README.md for what each
workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# scale factor of each workload's synthetic inputs
SF = {"bulk_import": 0.01, "entity_store": 0.02}
INPUT_REPS = 3  # the input tables are written this many times; set-up counts the median
END_TO_END = {"cycle_p50_s": "s", "setup_s": "s"}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled once a second: the walk
    over /proc holds the interpreter lock the driver's py4j calls need,
    and the JVM's resident size only falls rarely."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop_evt.wait(1.0)

    def stop(self):
        self._stop_evt.set()
        self.join()


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None below eleven samples."""
    n = len(latencies)
    if n < 11:
        return None
    xs = sorted(latencies)
    return 100.0 * (n - 10) / n, xs[n - 11]


def setup_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir``; make the package importable by the Python workers."""
    for d in ("tmp", "local", "scratch", "events", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_RENDER_DIR"] = os.path.join(run_dir, "scratch")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: each JVM (spark-submit's launcher too) would
    # otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir}/tmp -XX:-UsePerfData"
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" if " " not in v else f"--conf '{k}={v}'" for k, v in conf.items()
    ) + " pyspark-shell"


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait until every process
    this run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def run(args, run_dir: str) -> dict:
    from lens_sds_batch_spark.session import get_spark

    rss = RssSampler()
    rss.start()
    cores = os.cpu_count() or 4
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    import inputs
    import layers
    import spans
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else SF[args.workload]
    data_dir = os.path.join(run_dir, "data")
    inputs_s = []
    for _ in range(INPUT_REPS):
        t0 = time.perf_counter()
        sizes = inputs.write_tables(data_dir, sf, getattr(cls, "n_docs", 0))
        inputs_s.append(time.perf_counter() - t0)

    tracer = spans.Tracer(spark.sparkContext, args.trace)
    w = cls(workloads.Ctx(spark, tracer, run_dir, data_dir, sf, args.seed))
    t0 = time.perf_counter()
    sizes.update(w.prepare())
    prepare_s = time.perf_counter() - t0

    attempted = failed = 0
    notes = []
    lat: dict[str, list[float]] = {k: [] for k in w.kinds}
    items_done: dict[str, int] = dict.fromkeys(w.kinds, 0)

    def request(i: int) -> float:
        """Send request ``i``; returns its latency and, once the warm-up
        is over, records it under its kind."""
        nonlocal attempted, failed
        kind = w.kinds[i % len(w.kinds)]
        w.untimed_s = 0.0
        t = time.perf_counter()
        try:
            kind, items, ok, note = w.op(i, bad=i in args.fail_ops, fail=i in args.raise_ops)
        except Exception as e:  # noqa: BLE001 - a raising request is a failed one
            items, ok, note = 0, False, f"op {i} raised {type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t - w.untimed_s
        attempted += 1
        if not ok:
            failed += 1
            notes.append(note)
        if i >= w.warmup:
            lat[kind].append(dt)
            items_done[kind] += items
        return dt

    warm = [request(i) for i in range(w.warmup)]
    setup_s = statistics.median(inputs_s) + session_s + prepare_s + sum(warm)

    # whole cycles (one request of each kind) until the next one would
    # overrun the window
    gc0 = spans.jvm_gc_seconds(spark)
    deadline = time.perf_counter() + args.seconds
    i = w.warmup
    cycles: list[float] = []
    while True:
        cycles.append(sum(request(i + j) for j in range(len(w.kinds))))
        i += len(w.kinds)
        if time.perf_counter() + statistics.median(cycles) > deadline:
            break
    gc_s = spans.jvm_gc_seconds(spark) - gc0

    if args.workload == "entity_store":
        w.measure_storage()
    rss.stop()
    out = {
        "setup": {"inputs_s": inputs_s, "session_s": session_s, "prepare_s": prepare_s, "warm_s": warm},
        "sizes": sizes, "sf": sf, "lat": lat, "items": items_done, "notes": notes, "w": w,
        "attempted": attempted, "failed": failed,
        "peak_rss_mb": rss.peak_kb / 1024.0,
        "e2e": {
            "cycle_p50_s": sum(statistics.median(xs) for xs in lat.values()),
            "setup_s": setup_s,
        },
    }
    if args.trace:
        stop_spark()  # flushes the event log
        jobs, scopes = spans.read_event_log(os.path.join(run_dir, "events"))
        prof = spans.Profile(tracer.spans, jobs, scopes, cores, w.warmup)
        out["layers"] = layers.layer_metrics(prof, w, session_s, gc_s, out["peak_rss_mb"])
    return out


def report(args, res: dict) -> dict:
    """Print the human-readable lines and return the result object."""
    from layers import UNITS

    w, lat = res["w"], res["lat"]
    print(f"workload {args.workload} seed {args.seed} sf {res['sf']} trace {int(args.trace)}")
    print("inputs " + " ".join(f"{k}={v}" for k, v in sorted(res["sizes"].items())))
    st = res["setup"]
    print("setup inputs_s=" + ",".join(f"{x:.3f}" for x in st["inputs_s"])
          + f" session_s={st['session_s']:.3f} prepare_s={st['prepare_s']:.3f} warm_s="
          + ",".join(f"{x:.3f}" for x in st["warm_s"]))
    print("requests_s " + " ".join(f"{k}=" + ",".join(f"{x:.3f}" for x in xs) for k, xs in lat.items()))
    n = sum(len(xs) for xs in lat.values())
    lines = [("failed_ratio", res["failed"] / res["attempted"], "ratio"),
             ("peak_rss_mb", res["peak_rss_mb"], "MB")]
    lines += [(k, v, END_TO_END[k]) for k, v in res["e2e"].items()]
    lines += [(f"{k}_p50_s", statistics.median(xs), "s") for k, xs in lat.items()]
    if args.workload == "bulk_import":
        for fl in ("md5", "sha1"):
            lines.append((f"{fl}_commands_per_s", res["items"][fl] / sum(lat[fl]), "1/s"))
        lines.append(("docs_per_s", res["items"]["curation"] / sum(lat["curation"]), "1/s"))
    elif args.workload == "entity_store":
        ph = {k: v[w.warmup:] for k, v in w.phase.items()}
        for k in ("import", "commit", "lookup", "change_feed", "ivm_refresh", "snapshot_read", "maintain"):
            if ph.get(k):
                lines.append((f"{k}_p50_s", statistics.median(ph[k]), "s"))
        lines.append(("stored_bytes_per_live_byte", w.stored_ratio, "ratio"))
    lines.append(("requests_measured", n, "count"))
    for k, xs in lat.items():
        tl = tail(xs)
        lines.append((f"{k}_tail_s", f"p{tl[0]:.0f} of n={len(xs)}: {tl[1]:.6f}" if tl
                      else f"n/a: {len(xs)} samples, a tail needs 11", "s"))
    for name, v, unit in lines:
        print(f"  {name} = {v if isinstance(v, str) else round(v, 6)} {unit}")
    for note in res["notes"]:
        print(f"FAILED {note}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in res["e2e"].items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def run_all(args) -> int:
    """Run every workload in its own process; print each one's lines,
    then one JSON object whose metrics are keyed ``<workload>.<name>``."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in SF:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(int(args.trace))]
        if args.sf is not None:
            cmd += ["--sf", str(args.sf)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: exited with code {out.returncode}", file=sys.stderr)
            return out.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*SF, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    ops = lambda s: {int(x) for x in s.split(",") if x}  # noqa: E731
    ap.add_argument("--fail-ops", type=ops, default=set(),
                    help="request indices checked against a corrupted expectation (self-test)")
    ap.add_argument("--raise-ops", type=ops, default=set(),
                    help="request indices that make a call into the package raise (self-test)")
    args = ap.parse_args(argv)
    args.trace = bool(args.trace)
    if not os.path.isdir(os.path.join(ROOT, "lens_sds_batch_spark")):
        print(f"perfbench: package lens_sds_batch_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [HERE, ROOT]
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        setup_env(run_dir, args.trace)
        result = report(args, run(args, run_dir))
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
