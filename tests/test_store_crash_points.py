"""Crash enumeration of the manifest store, on the model of ALICE ("All
File Systems Are Not Created Equal", OSDI 2014): every writer of
plans/merge.py is killed at EVERY mutating filesystem op it makes.

``merge._open_table`` is the store's one filesystem seam; the test
patches it with a seam that counts the mutating ops (mkdirs, rename,
delete, write_bytes, create_exclusive, write_parquet) of one writer call
and, from op k on, raises on every op as if the process had died there:
op k and everything after it never happens, so the lease and the staging
dir stay behind.  For each k the test then checks the four crash laws:

1. the table reads as exactly the pre-state or exactly the post-state;
2. the replay (after the dead writer's lease is backdated past
   ``LEASE_STALE_SEC`` and taken over) converges to the closed-form
   serial LWW model;
3. ``vacuum_merged_table(grace_sec=0)`` leaves exactly the generations
   and the one manifest the latest commit lists;
4. a replica equals its source and an aggregate equals its full
   recompute, each with its cursor at the source seq it was built from
   (the change-feed cursors are exactly-once).

Each writer's pre-state is built once and restored by a directory copy
for every k (at the same path: the cursors name their source's path).  Reference semantics anchor: import_clinical_data.clj:239-263
(the store the commands mutate must never half-apply a batch).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

import lens_sds_batch_spark.plans.merge as M
from lens_sds_batch_spark.plans.ivm import read_aggregate, refresh_aggregate
from lens_sds_batch_spark.session import local_df

SCHEMA = "k string, grp string, v int, pri int, dead boolean"
COLS = ["k", "grp", "v", "pri", "dead"]
MUTATING = {"mkdirs", "rename", "delete", "write_bytes", "create_exclusive", "write_parquet"}

B1 = [("k1", "a", 1, 1, False), ("k2", "a", 2, 1, False), ("k3", "b", 3, 1, False),
      ("k4", "b", 4, 1, False), ("k5", "c", 5, 1, False), ("k6", "c", 6, 1, False)]
# updates k1 and k3 (k3 moves group), deletes k2, inserts k7
B2 = [("k1", "a", 10, 2, False), ("k2", "a", 0, 2, True),
      ("k3", "c", 30, 2, False), ("k7", "b", 7, 2, False)]


class Died(BaseException):
    """The writer's process died at this op (a BaseException, so no
    ``except Exception`` in the store can swallow it)."""


class _Plan:
    def __init__(self, crash_at=None):
        self.crash_at, self.n, self.dead, self.ops = crash_at, 0, False, []


class _FaultySeam:
    """A real store whose mutating ops are counted, and which dies at
    mutating op ``plan.crash_at``: that op and every later op raise."""

    def __init__(self, real, plan):
        self._real, self._plan, self.tgt = real, plan, real.tgt

    def __getattr__(self, name):
        fn, plan = getattr(self._real, name), self._plan

        def op(*a, **kw):
            if plan.dead:
                raise Died(name)
            if name in MUTATING:
                plan.n += 1
                plan.ops.append(name)
                if plan.n == plan.crash_at:
                    plan.dead = True
                    raise Died(name)
            return fn(*a, **kw)

        return op


@contextlib.contextmanager
def _seam(plan):
    real_open = M._open_table
    M._open_table = lambda spark, path: _FaultySeam(real_open(spark, path), plan)
    try:
        yield plan
    finally:
        M._open_table = real_open


def _lww(state: dict, batch) -> dict:
    """The closed-form serial LWW model of one merge: the batch's
    highest-``pri`` row per key beats a stored row of strictly lower
    ``pri`` and then deletes the key when it is a tombstone."""
    out = dict(state)
    for row in sorted(batch, key=lambda r: r[3]):
        k, old = row[0], out.get(row[0])
        if old is not None and old[3] >= row[3]:
            continue
        if row[4]:
            out.pop(k, None)
        else:
            out[k] = row
    return out


def _agg(state: dict) -> frozenset:
    """Full recompute of the test aggregate (count and sum of v per grp)."""
    g: dict = {}
    for _, grp, v, _, _ in state.values():
        n, s = g.get(grp, (0, 0))
        g[grp] = (n + 1, s + v)
    return frozenset((grp, n, s) for grp, (n, s) in g.items())


def _merge(spark, path, rows, **kw):
    return M.merge_into(
        spark, path, local_df(spark, rows, SCHEMA), keys=["k"],
        order_cols=["pri"], is_delete=F.col("dead"), **kw,
    )


def _table(spark, path) -> tuple:
    """What a reader of the table sees: (rows, schema, num_buckets)."""
    df = M.read_merged_table(spark, path)
    if df is None:
        return frozenset(), None, None
    m = M._resolve(spark, path, "crash test")[1][2]
    rows = frozenset(tuple(r) for r in df.drop(M.BUCKET_COL).collect())
    return rows, tuple(df.drop(M.BUCKET_COL).dtypes), int(m["num_buckets"])


def _rows(state: dict, extra=()) -> frozenset:
    return frozenset(r + tuple(extra) for r in state.values())


BASE_TYPES = (("k", "string"), ("grp", "string"), ("v", "int"), ("pri", "int"),
              ("dead", "boolean"))
S1, S2 = _lww({}, B1), _lww(_lww({}, B1), B2)


def _replica(spark, root) -> tuple:
    dst = f"{root}/dst"
    df = M.read_merged_table(spark, dst)
    rows = frozenset(tuple(r) for r in df.select(*COLS).collect())
    return rows, M.read_commit_meta(spark, dst)[1]["replicate"]["last_seq"]


def _aggregate(spark, root) -> tuple:
    dst = f"{root}/dst"
    rows = frozenset(tuple(r) for r in read_aggregate(spark, dst).collect())
    return rows, M.read_commit_meta(spark, dst)[1]["ivm"]["src_seq"]


def _two_files_per_bucket(spark, path):
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        _merge(spark, path, B1, num_buckets=2)
    finally:
        spark.conf.set(key, "true")


# Each writer: (build the pre-state under root, the call under test, the
# replay, what a reader sees, the pre view, the post view, the tables the
# call writes).  Views follow the closed-form model, never a recorded run.
WRITERS = {
    "merge_first": (
        lambda s, r: None,
        lambda s, r: _merge(s, f"{r}/t", B1, num_buckets=2),
        None,
        lambda s, r: _table(s, f"{r}/t"),
        (frozenset(), None, None),
        (_rows(S1), BASE_TYPES, 2),
        ["t"],
    ),
    "merge_later": (
        lambda s, r: _merge(s, f"{r}/t", B1, num_buckets=2),
        lambda s, r: _merge(s, f"{r}/t", B2),
        None,
        lambda s, r: _table(s, f"{r}/t"),
        (_rows(S1), BASE_TYPES, 2),
        (_rows(S2), BASE_TYPES, 2),
        ["t"],
    ),
    "compact": (
        lambda s, r: _two_files_per_bucket(s, f"{r}/t"),
        lambda s, r: M.compact_merged_table(s, f"{r}/t", target_file_bytes=1 << 30),
        None,
        lambda s, r: _table(s, f"{r}/t"),
        (_rows(S1), BASE_TYPES, 2),
        (_rows(S1), BASE_TYPES, 2),
        ["t"],
    ),
    "rebucket": (
        lambda s, r: _merge(s, f"{r}/t", B1, num_buckets=2),
        lambda s, r: M.rebucket(s, f"{r}/t", 3),
        None,
        lambda s, r: _table(s, f"{r}/t"),
        (_rows(S1), BASE_TYPES, 2),
        (_rows(S1), BASE_TYPES, 3),
        ["t"],
    ),
    # evolve_schema refuses an evolution that already landed, so its
    # replay runs only when the crash left the pre-state
    "evolve_add": (
        lambda s, r: _merge(s, f"{r}/t", B1, num_buckets=2),
        lambda s, r: M.evolve_schema(s, f"{r}/t", add={"x": "string"}),
        lambda s, r, seen: seen[1] == BASE_TYPES
        and M.evolve_schema(s, f"{r}/t", add={"x": "string"}),
        lambda s, r: _table(s, f"{r}/t"),
        (_rows(S1), BASE_TYPES, 2),
        (_rows(S1, [None]), BASE_TYPES + (("x", "string"),), 2),
        ["t"],
    ),
    "evolve_widen": (
        lambda s, r: (_merge(s, f"{r}/t", B1, num_buckets=2),
                      M.evolve_schema(s, f"{r}/t", add={"x": "string"})),
        lambda s, r: M.evolve_schema(s, f"{r}/t", widen={"v": "bigint"}),
        lambda s, r, seen: dict(seen[1])["v"] == "int"
        and M.evolve_schema(s, f"{r}/t", widen={"v": "bigint"}),
        lambda s, r: _table(s, f"{r}/t"),
        (_rows(S1, [None]), BASE_TYPES + (("x", "string"),), 2),
        (_rows(S1, [None]), tuple((c, "bigint" if c == "v" else t)
                                  for c, t in BASE_TYPES) + (("x", "string"),), 2),
        ["t"],
    ),
    "vacuum": (
        lambda s, r: (_merge(s, f"{r}/t", B1, num_buckets=2), _merge(s, f"{r}/t", B2)),
        lambda s, r: M.vacuum_merged_table(s, f"{r}/t", grace_sec=0),
        None,
        lambda s, r: _table(s, f"{r}/t"),
        (_rows(S2), BASE_TYPES, 2),
        (_rows(S2), BASE_TYPES, 2),
        ["t"],
    ),
    "replicate": (
        lambda s, r: (_merge(s, f"{r}/src", B1, num_buckets=2),
                      M.replicate_changes(s, f"{r}/src", f"{r}/dst"),
                      _merge(s, f"{r}/src", B2)),
        lambda s, r: M.replicate_changes(s, f"{r}/src", f"{r}/dst"),
        None,
        _replica,
        (_rows(S1), 1),
        (_rows(S2), 2),
        ["dst"],
    ),
    "refresh": (
        lambda s, r: (_merge(s, f"{r}/src", B1, num_buckets=2),
                      refresh_aggregate(s, f"{r}/src", f"{r}/dst", group_keys=["grp"],
                                        aggs={"n": ("count", "*"), "sv": ("sum", "v")},
                                        num_buckets=2),
                      _merge(s, f"{r}/src", B2)),
        lambda s, r: refresh_aggregate(s, f"{r}/src", f"{r}/dst"),
        None,
        _aggregate,
        (_agg(S1), 1),
        (_agg(S2), 2),
        ["dst"],
    ),
}


def _restore(template, root):
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(template, root)


def _take_over_leases(root):
    """Backdate every lease a dead writer left, past the stale bound."""
    old = time.time() - 2 * M.LEASE_STALE_SEC
    for name in os.listdir(root):
        if name.endswith(M.LEASE_SUFFIX):
            os.utime(os.path.join(root, name), (old, old))


def _vacuumed_to_live(spark, path):
    """Law 3: after a grace-0 vacuum the table holds exactly the
    generations and the one manifest its latest commit lists."""
    M.vacuum_merged_table(spark, path, grace_sec=0)
    seq, name, m = M._resolve(spark, path, "crash test")[1]
    on_disk = {
        (b.split("=", 1)[1], g.split("=", 1)[1])
        for b in os.listdir(path) if b.startswith(M.BUCKET_COL + "=")
        for g in os.listdir(os.path.join(path, b))
    }
    assert on_disk == set(m["buckets"].items()), (on_disk, m["buckets"])
    mdir = os.path.join(path, M.MANIFEST_DIR)  # less the local fs's checksums
    assert [n for n in os.listdir(mdir) if not n.endswith(".crc")] == [name]


@pytest.fixture(scope="module")
def small_spark(spark):
    """Two shuffle partitions: the tables are a few rows."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield spark
    spark.conf.set(key, prev)


@pytest.mark.parametrize("writer", list(WRITERS))
def test_every_crash_point_of_every_writer(small_spark, tmp_path, writer):
    spark = small_spark
    setup, call, replay, view, pre, post, written = WRITERS[writer]
    replay = replay or (lambda s, r, seen: call(s, r))
    template, root = str(tmp_path / "template"), str(tmp_path / "root")
    os.makedirs(root)
    setup(spark, root)
    shutil.copytree(root, template)
    assert view(spark, root) == pre

    with _seam(_Plan()) as clean:  # the clean run: its op count is the sweep
        call(spark, root)
    assert view(spark, root) == post
    assert clean.n >= 3, clean.ops

    for k in range(1, clean.n + 1):
        where = f"{writer}: crash at mutating op {k}/{clean.n} ({clean.ops[k - 1]})"
        _restore(template, root)
        try:
            with _seam(_Plan(crash_at=k)), pytest.raises(Died):
                call(spark, root)
            _crash_laws(spark, root, replay, view, pre, post, written)
        except Exception as e:  # name the crash point
            pytest.fail(f"{where}: {type(e).__name__}: {e}"[:3000])


def _crash_laws(spark, root, replay, view, pre, post, written):
    seen = view(spark, root)
    assert seen in (pre, post), f"reads neither pre nor post: {seen}"
    _take_over_leases(root)
    replay(spark, root, seen)
    assert view(spark, root) == post, "the replay did not converge"
    for t in written:  # takes over the lease a skipped replay left
        _vacuumed_to_live(spark, f"{root}/{t}")
    assert not [n for n in os.listdir(root) if n.endswith(M.LEASE_SUFFIX)]
