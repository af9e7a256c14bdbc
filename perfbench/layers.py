"""Per-layer metrics of a traced run, derived from its spans and the
Spark event log.  Every name is reported on every workload; a layer the
workload does not exercise reports 0.  Values are medians over the
measured requests that did not raise (the warm-up requests are left
out) unless the name says otherwise.
"""

from __future__ import annotations

from spans import Profile, median
from workloads import OPERATORS

FLAVORS = ("md5", "sha1")
FUSED = ("build_s", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_bytes",
         "spill_bytes", "max_stage_skew", "core_utilization")

# name -> unit; the order is the order BENCHMARK.json lists them in
UNITS: dict[str, str] = {
    "process.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "sources.odm_xml.parse_tasks": "count",
    "sources.odm_xml.parse_task_s": "s",
    "sources.odm_xml.parse_cpu_s": "s",
    "sources.odm_xml.python_wait_s": "s",
    "sources.odm_xml.dead_letter_rows": "count",
    "plans.commands.build_s": "s",
    "plans.commands.catalyst_s": "s",
    "plans.commands.jobs": "count",
    "plans.commands.stages": "count",
    "plans.commands.tasks": "count",
    "plans.commands.self_s": "s",
    **{f"plans.odm.fused_commands.{fl}.{m}": (
        "bytes" if m.endswith("bytes") else "ratio" if m in ("max_stage_skew", "core_utilization")
        else "count" if m in ("stages", "tasks") else "s")
       for fl in FLAVORS for m in FUSED},
    "functions.keys.sha1_extra_cpu_s": "s",
    "plans.merge.merge_into.wall_s": "s",
    "plans.merge.merge_into.self_s": "s",
    "plans.merge.merge_into.jobs": "count",
    "plans.merge.merge_into.tasks": "count",
    "plans.merge.merge_into.task_cpu_s": "s",
    "plans.merge.merge_into.touched_bucket_share": "ratio",
    "plans.merge.merge_into.bytes_written_per_batch_byte": "ratio",
    "plans.merge.merge_into.commit_failures": "count",
    "plans.merge.lookup_merged_keys.wall_s": "s",
    "plans.merge.lookup_merged_keys.jobs": "count",
    "plans.merge.read_changes.wall_s": "s",
    "plans.merge.read_changes.jobs": "count",
    "plans.merge.read_changes.tasks": "count",
    "plans.merge.read_merged_table.wall_s": "s",
    "plans.merge.read_merged_table.jobs": "count",
    "plans.merge.maintain_merged_table.wall_s": "s",
    "plans.merge.maintain_merged_table.bytes_rewritten": "bytes",
    "plans.merge.stored_bytes_per_live_byte": "ratio",
    "plans.ivm.refresh_aggregate.wall_s": "s",
    "plans.ivm.refresh_aggregate.self_s": "s",
    "plans.ivm.refresh_aggregate.jobs": "count",
    "plans.ivm.refresh_aggregate.task_cpu_s": "s",
    "plans.ivm.refresh_aggregate.groups_changed_share": "ratio",
    **{f"operators.{mod}.{q}.{m}": "bytes" if m == "shuffle_bytes" else "count" if m == "jobs" else "s"
       for mod, q in OPERATORS for m in ("build_s", "exec_s", "jobs", "task_cpu_s", "shuffle_bytes")},
    "jvm.gc_s": "s",
}

# the stage scope of the executor-side XML parse (mapInPandas)
PARSE_SCOPE = "MapInPandas"


def _measured(p: Profile, name: str):
    """The spans called ``name`` of the measured requests that ended
    without raising."""
    return [s for s in p.named(name)
            if s.op is not None and s.op >= p.first_measured and not s.attrs.get("error")]


def _xml(p: Profile, out: dict) -> None:
    drains = _measured(p, "plans.commands.drain")
    if not drains:
        return
    deads = {s.op: s for s in _measured(p, "sources.odm_xml.dead_letters")}
    builds = {s.op: s for s in _measured(p, "plans.commands.generate_commands")}
    per_op = []
    for d in drains:
        parse = p.scoped_tasks(d, PARSE_SCOPE)
        if d.op in deads:
            parse += p.scoped_tasks(deads[d.op], PARSE_SCOPE)
        per_op.append((len(parse), sum(t.run_s for t in parse), sum(t.cpu_s for t in parse)))
    # the malformed file is imported once, in the warm-up
    bad = [s.attrs["rows"] for s in p.named("sources.odm_xml.dead_letters") if s.attrs.get("rows")]
    out.update({
        "sources.odm_xml.parse_tasks": median(n for n, _, _ in per_op),
        "sources.odm_xml.parse_task_s": median(r for _, r, _ in per_op),
        "sources.odm_xml.parse_cpu_s": median(c for _, _, c in per_op),
        "sources.odm_xml.python_wait_s": median(r - c for _, r, c in per_op),
        "sources.odm_xml.dead_letter_rows": median(bad),
        "plans.commands.build_s": median(s.wall for s in builds.values()),
        "plans.commands.catalyst_s": median(d.attrs.get("catalyst_s", 0.0) for d in drains),
        "plans.commands.jobs": median(len(p.jobs(d)) for d in drains),
        "plans.commands.stages": median(len(p.stages(d)) for d in drains),
        "plans.commands.tasks": median(len(p.tasks(d)) for d in drains),
        "plans.commands.self_s": median(
            (builds[d.op].wall if d.op in builds else 0.0) + p.self_s(d) for d in drains),
    })


def _bulk(p: Profile, out: dict) -> None:
    cpu = {}
    for fl in FLAVORS:
        drains = _measured(p, f"plans.odm.fused_commands.{fl}.drain")
        if not drains:
            continue
        key = f"plans.odm.fused_commands.{fl}."
        tasks = [p.tasks(d) for d in drains]
        cpu[fl] = median(sum(t.cpu_s for t in ts) for ts in tasks)
        out.update({
            key + "build_s": median(s.wall for s in _measured(p, f"plans.odm.fused_commands.{fl}.build")),
            key + "stages": median(len(p.stages(d)) for d in drains),
            key + "tasks": median(len(ts) for ts in tasks),
            key + "task_run_s": median(sum(t.run_s for t in ts) for ts in tasks),
            key + "task_cpu_s": cpu[fl],
            key + "shuffle_bytes": median(sum(t.shuffle_write for t in ts) for ts in tasks),
            key + "spill_bytes": median(sum(t.spill for t in ts) for ts in tasks),
            key + "max_stage_skew": median(p.max_stage_skew(d) for d in drains),
            key + "core_utilization": median(
                sum(t.run_s for t in ts) / (d.wall * p.cores) for d, ts in zip(drains, tasks)),
        })
    if len(cpu) == 2:
        out["functions.keys.sha1_extra_cpu_s"] = cpu["sha1"] - cpu["md5"]


def _operators(p: Profile, out: dict) -> None:
    for module, query in OPERATORS:
        key = f"operators.{module}.{query}."
        drains = _measured(p, key + "drain")
        if not drains:
            continue
        out.update({
            key + "build_s": median(s.wall for s in _measured(p, key + "build")),
            key + "exec_s": median(s.wall for s in drains),
            key + "jobs": median(len(p.jobs(s)) for s in drains),
            key + "task_cpu_s": median(sum(t.cpu_s for t in p.tasks(s)) for s in drains),
            key + "shuffle_bytes": median(sum(t.shuffle_write for t in p.tasks(s)) for s in drains),
        })


def _store(p: Profile, out: dict) -> None:
    m = "plans.merge."
    # a commit that raised counts as a failure and stays out of the medians
    out[m + "merge_into.commit_failures"] = sum(1 for s in p.named(m + "merge_into") if s.attrs.get("error"))
    merges = _measured(p, m + "merge_into")
    if not merges:
        return
    info = [s.attrs["commit"] for s in merges]
    out.update({
        m + "merge_into.wall_s": median(s.wall for s in merges),
        m + "merge_into.self_s": median(p.self_s(s) for s in merges),
        m + "merge_into.jobs": median(len(p.jobs(s)) for s in merges),
        m + "merge_into.tasks": median(len(p.tasks(s)) for s in merges),
        m + "merge_into.task_cpu_s": median(sum(t.cpu_s for t in p.tasks(s)) for s in merges),
        m + "merge_into.touched_bucket_share": median(
            len(c["touched_buckets"]) / c["num_buckets"] for c in info),
        m + "merge_into.bytes_written_per_batch_byte": median(
            sum(t.written for t in p.tasks(s)) / c["batch_bytes"] for s, c in zip(merges, info)),
    })
    for name, fields in (("lookup_merged_keys", ("wall_s", "jobs")),
                         ("read_changes", ("wall_s", "jobs", "tasks")),
                         ("read_merged_table", ("wall_s", "jobs"))):
        spans = _measured(p, m + name)
        for f in fields:
            fn = {"wall_s": lambda s: s.wall, "jobs": lambda s: len(p.jobs(s)),
                  "tasks": lambda s: len(p.tasks(s))}[f]
            out[f"{m}{name}.{f}"] = median(fn(s) for s in spans)
    maint = _measured(p, m + "maintain_merged_table")
    out[m + "maintain_merged_table.wall_s"] = median(s.wall for s in maint)
    out[m + "maintain_merged_table.bytes_rewritten"] = median(
        sum(t.written for t in p.tasks(s)) for s in maint)
    ivm = _measured(p, "plans.ivm.refresh_aggregate")
    k = "plans.ivm.refresh_aggregate."
    out.update({
        k + "wall_s": median(s.wall for s in ivm),
        k + "self_s": median(p.self_s(s) for s in ivm),
        k + "jobs": median(len(p.jobs(s)) for s in ivm),
        k + "task_cpu_s": median(sum(t.cpu_s for t in p.tasks(s)) for s in ivm),
        k + "groups_changed_share": median(s.attrs["groups_changed_share"] for s in ivm),
    })


def layer_metrics(p: Profile, workload, session_s: float, gc_s: float,
                  peak_rss_mb: float) -> dict[str, float]:
    out = dict.fromkeys(UNITS, 0.0)
    out["process.peak_rss_mb"] = peak_rss_mb
    out["session.get_spark_s"] = session_s
    out["jvm.gc_s"] = gc_s
    _xml(p, out)
    _bulk(p, out)
    _operators(p, out)
    _store(p, out)
    out["plans.merge.stored_bytes_per_live_byte"] = getattr(workload, "stored_ratio", 0.0)
    return out
