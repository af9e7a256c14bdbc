"""Spans around the benchmark's calls into the package, tied to Spark
jobs through job groups, plus the Spark event-log reader that turns
them into per-layer figures.

A span records name, start, end, parent, op id and free-form
attributes.  With tracing off, ``span`` still times its block (the
workloads need the wall time of each phase) but records nothing and
sets no job group, so an untraced run makes no extra JVM calls.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op if op is not None else (parent.op if parent else None),
                 parent.id if parent else None, 0.0, attrs=dict(attrs))
        if self.enabled:
            self.spans.append(s)
            self.sc.setJobGroup(f"span-{s.id}", name)
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        except BaseException:
            s.attrs["error"] = True
            raise
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    shuffle_write: int
    spill: int
    written: int


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: list[int]
    tasks: list[Task] = field(default_factory=list)


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, set[str]]]:
    """Jobs (with their tasks) from the uncompressed, non-rolling event
    log in ``log_dir``, and the operator scope names of each stage."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    scopes: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                            ev["Submission Time"] / 1000.0, 0.0, list(ev["Stage IDs"]))
                    jobs[j.id] = j
                    for sid in j.stages:
                        stage_job.setdefault(sid, j.id)
                    for info in ev.get("Stage Infos", []):
                        names = scopes.setdefault(info["Stage ID"], set())
                        for rdd in info.get("RDD Info", []):
                            with contextlib.suppress(ValueError, TypeError, KeyError):
                                names.add(json.loads(rdd["Scope"])["name"])
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    t = Task(
                        ev["Stage ID"], info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0,
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Executor CPU Time", 0) / 1e9,
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                        (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    )
                    jid = stage_job.get(t.stage)
                    if jid is not None:
                        jobs[jid].tasks.append(t)
    return sorted(jobs.values(), key=lambda j: j.id), scopes


class Profile:
    """Spans joined with the jobs their block launched."""

    def __init__(self, spans: list[Span], jobs: list[Job], scopes: dict[int, set[str]], cores: int,
                 first_measured: int):
        self.spans = spans
        self.first_measured = first_measured  # op id of the first request after the warm-up
        self.scopes = scopes
        self.cores = cores
        self._children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self._children.setdefault(s.parent, []).append(s)
        self._jobs: dict[int, list[Job]] = {}
        for j in jobs:
            if j.group and j.group.startswith("span-"):
                self._jobs.setdefault(int(j.group[5:]), []).append(j)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def jobs(self, s: Span) -> list[Job]:
        """Jobs launched inside ``s`` or any span nested in it."""
        out = list(self._jobs.get(s.id, []))
        for c in self._children.get(s.id, []):
            out.extend(self.jobs(c))
        return out

    def tasks(self, s: Span) -> list[Task]:
        return [t for j in self.jobs(s) for t in j.tasks]

    def self_s(self, s: Span) -> float:
        """Span wall minus the part of it covered by its jobs."""
        ivs = sorted((max(j.start, s.start), min(j.end or s.end, s.end)) for j in self.jobs(s))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return max(0.0, s.wall - covered)

    def stages(self, s: Span) -> set[int]:
        return {t.stage for t in self.tasks(s)}

    def scoped_tasks(self, s: Span, scope_word: str) -> list[Task]:
        return [t for t in self.tasks(s) if any(scope_word in n for n in self.scopes.get(t.stage, ()))]

    def max_stage_skew(self, s: Span) -> float:
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks(s):
            by_stage.setdefault(t.stage, []).append(t.finish - t.launch)
        if not by_stage:
            return 0.0
        widest = max(by_stage.values(), key=len)
        med = statistics.median(widest)
        return max(widest) / med if med > 0 else 0.0


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of the last action run
    on ``df`` (its QueryExecution's planning tracker)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000.0
