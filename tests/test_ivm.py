"""r14: incremental aggregate maintenance (plans/ivm.refresh_aggregate)
— a GROUP-BY count/sum aggregate of a manifest merge target kept in
sync by applying the net change feed as per-group deltas.

The load-bearing law: after any refresh, the maintained table equals
the FULL recomputation over the source's resolver read, bit-for-bit —
pinned deterministically (inserts/updates/deletes/NULLs/group death/
decimal sums) and as a hypothesis property over random batches and
refresh cadences.

The exactly-once claim: the source cursor commits ATOMICALLY with the
merged deltas (merge_into(commit_meta=...)), so a crash at the commit
point leaves data-and-cursor both untouched and the replay applies the
deltas exactly once — pinned by injecting a crash into the manifest
commit itself.  The CAS claim (expect_seq) is pinned at the merge
layer.

Reference anchor: the reference maintains per-import metrics
incrementally as commands stream through
(import_clinical_data.clj:316-327); this is that idea at table grain.
"""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import lens_sds_batch_spark.plans.merge as M
from lens_sds_batch_spark.plans.ivm import (
    read_aggregate,
    refresh_aggregate,
)
from lens_sds_batch_spark.plans.merge import (
    compact_merged_table,
    evolve_schema,
    maintain_merged_table,
    merge_into,
    read_commit_meta,
    read_merged_table,
    rebucket,
    vacuum_merged_table,
)

SCHEMA = "k string, grp string, v int, pri int, dead boolean"
AGGS = {"n": ("count", "*"), "sv": ("sum", "v"), "cv": ("count", "v")}


def _merge(spark, target, rows, schema=SCHEMA, **kw):
    return merge_into(
        spark, target, spark.createDataFrame(rows, schema),
        keys=["k"], order_cols=["pri"], is_delete=F.col("dead"), **kw,
    )


def _mk(spark, target, rows, **kw):
    kw.setdefault("num_buckets", 4)
    kw.setdefault("protocol", "manifest")
    return _merge(spark, target, rows, **kw)


def _expected(spark, src):
    """Full recompute of the maintained aggregate, in plain Python
    (the model the incremental path must equal)."""
    df = read_merged_table(spark, src)
    if df is None:
        return []
    m: dict = {}
    for r in df.select("grp", "v").collect():
        g = m.setdefault(r["grp"], [0, 0, 0])
        g[0] += 1
        if r["v"] is not None:
            g[1] += r["v"]
            g[2] += 1
    return sorted(
        ((k, n, s, c) for k, (n, s, c) in m.items()), key=repr
    )


def _got(spark, dst):
    return sorted(
        (
            (r["grp"], r["n"], r["sv"], r["cv"])
            for r in read_aggregate(spark, dst).collect()
        ),
        key=repr,
    )


def _assert_synced(spark, src, dst):
    assert _got(spark, dst) == _expected(spark, src)


# ---------------------------------------------------------------------------
# deterministic behavior
# ---------------------------------------------------------------------------


def test_bootstrap_matches_full_groupby(spark, tmp_path):
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [
        ("k1", "a", 10, 1, False),
        ("k2", "a", None, 1, False),   # NULL value: counts in n, not cv/sv
        ("k3", None, 7, 1, False),     # NULL group key is a group
        ("k4", "b", 5, 1, False),
    ])
    r = refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    assert r["bootstrap"] and r["to_seq"] == 1
    _assert_synced(spark, src, dst)
    out = read_aggregate(spark, dst)
    assert set(out.columns) == {"grp", "n", "sv", "cv"}
    assert dict(out.dtypes)["n"] == "bigint"


def test_incremental_matches_recompute_each_step(spark, tmp_path):
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 10, 1, False), ("k2", "b", 5, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)

    # update value, insert into new group, NULL a value
    _merge(spark, src, [
        ("k1", "a", 42, 2, False),
        ("k3", "c", 1, 2, False),
        ("k2", "b", None, 2, False),
    ])
    r = refresh_aggregate(spark, src, dst)
    assert not r["bootstrap"] and r["groups_changed"] == 3
    _assert_synced(spark, src, dst)

    # delete the sole member of a group: the group must DIE
    _merge(spark, src, [("k3", "c", None, 3, True)])
    r = refresh_aggregate(spark, src, dst)
    assert r["groups_deleted"] == 1
    _assert_synced(spark, src, dst)
    assert "c" not in {t[0] for t in _got(spark, dst)}

    # a key MOVES groups: -1 on the old group, +1 on the new
    _merge(spark, src, [("k1", "b", 42, 4, False)])
    refresh_aggregate(spark, src, dst)
    _assert_synced(spark, src, dst)


def test_all_groups_dead_reads_typed_empty(spark, tmp_path):
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 1, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    _merge(spark, src, [("k1", "a", 1, 2, True)])
    refresh_aggregate(spark, src, dst)
    out = read_aggregate(spark, dst)
    assert out.count() == 0
    assert set(out.columns) == {"grp", "n", "sv", "cv"}  # typed, not None


def test_zero_net_advances_cursor_without_data_commit(spark, tmp_path):
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 10, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    before = _got(spark, dst)
    seq_before, meta_before = read_commit_meta(spark, dst)

    # a change and its exact revert inside one refresh interval: the
    # NET feed may collapse it entirely or the deltas sum to zero —
    # either way no group row is written, but the cursor must advance
    _merge(spark, src, [("k1", "a", 99, 2, False)])
    _merge(spark, src, [("k1", "a", 10, 3, False)])
    r = refresh_aggregate(spark, src, dst)
    assert r["groups_changed"] == 0 and r["to_seq"] == 3
    assert _got(spark, dst) == before
    seq_after, meta_after = read_commit_meta(spark, dst)
    assert seq_after == seq_before + 1  # metadata-only commit
    assert meta_after["ivm"]["src_seq"] == 3 > meta_before["ivm"]["src_seq"]

    # update of a non-aggregated, non-key column nets to zero too
    _merge(spark, src, [("k1", "a", 10, 4, False)])  # same v, new pri
    r = refresh_aggregate(spark, src, dst)
    assert r["groups_changed"] == 0
    assert _got(spark, dst) == before


def test_noop_when_no_new_commits(spark, tmp_path):
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 10, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    seq0, _ = read_commit_meta(spark, dst)
    r = refresh_aggregate(spark, src, dst)
    assert r["from_seq"] == r["to_seq"] and r["groups_changed"] == 0
    seq1, _ = read_commit_meta(spark, dst)
    assert seq1 == seq0  # pure no-op: nothing committed at all


def test_crash_at_commit_replays_exactly_once(spark, tmp_path, monkeypatch):
    """The exactly-once witness: inject a crash INTO the manifest
    commit of the refresh's merge.  Data and cursor are one atomic
    rename, so the crashed refresh leaves both exactly untouched, and
    the replay applies the deltas once — never zero, never twice."""
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 10, 1, False), ("k2", "b", 5, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    state_before = _got(spark, dst)
    meta_before = read_commit_meta(spark, dst)

    _merge(spark, src, [("k1", "a", 42, 2, False), ("k9", "b", 3, 2, False)])

    orig = M._commit_manifest

    def boom(*a, **k):
        raise IOError("injected crash before the manifest rename")

    monkeypatch.setattr(M, "_commit_manifest", boom)
    with pytest.raises(IOError, match="injected crash"):
        refresh_aggregate(spark, src, dst)
    monkeypatch.setattr(M, "_commit_manifest", orig)

    # the crash point is BEFORE the rename: neither data nor cursor moved
    assert _got(spark, dst) == state_before
    assert read_commit_meta(spark, dst) == meta_before

    # replay converges — deltas applied exactly once
    r = refresh_aggregate(spark, src, dst)
    assert r["groups_changed"] == 2
    _assert_synced(spark, src, dst)

    # and a second replay of the SAME range is a pure no-op (the
    # cursor rode the commit)
    r = refresh_aggregate(spark, src, dst)
    assert r["from_seq"] == r["to_seq"]
    _assert_synced(spark, src, dst)


def test_expect_seq_cas_refuses_a_moved_basis(spark, tmp_path):
    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [("k1", "a", 1, 1, False)])
    # matching expectation commits
    r2 = _merge(spark, tgt, [("k2", "a", 1, 2, False)], expect_seq=r1["seq"])
    assert r2["seq"] == r1["seq"] + 1
    # stale expectation refuses BEFORE writing anything
    snaps_before = len(M.list_snapshots(spark, tgt))
    with pytest.raises(ValueError, match="planned against has moved"):
        _merge(spark, tgt, [("k3", "a", 1, 3, False)], expect_seq=r1["seq"])
    assert len(M.list_snapshots(spark, tgt)) == snaps_before
    rows = read_merged_table(spark, tgt).select("k").collect()
    assert sorted(r["k"] for r in rows) == ["k1", "k2"]


def test_commit_meta_carried_and_replaced(spark, tmp_path):
    """commit_meta semantics at the merge layer: set → carried by
    plain merges, compaction, rebucket, evolve and vacuum → replaced
    by the next commit_meta merge; empty batch + commit_meta still
    commits (metadata-only)."""
    tgt = str(tmp_path / "t")
    _mk(spark, tgt, [("k1", "a", 1, 1, False)])
    _merge(spark, tgt, [("k2", "a", 1, 2, False)],
           commit_meta={"app": {"cursor": 7}})
    seq, meta = read_commit_meta(spark, tgt)
    assert meta == {"app": {"cursor": 7}}

    # carried, unchanged, by every later commit flavor
    _merge(spark, tgt, [("k3", "a", 1, 3, False)])
    compact_merged_table(spark, tgt)
    rebucket(spark, tgt, new_num_buckets=2)
    evolve_schema(spark, tgt, add={"extra": "string"})
    vacuum_merged_table(spark, tgt, grace_sec=0.0)
    _, meta = read_commit_meta(spark, tgt)
    assert meta == {"app": {"cursor": 7}}

    # replaced by the next commit_meta merge
    _merge(
        spark, tgt,
        [("k4", "a", 1, 4, False, None)],
        schema=SCHEMA + ", extra string",
        commit_meta={"app": {"cursor": 9}},
    )
    _, meta = read_commit_meta(spark, tgt)
    assert meta == {"app": {"cursor": 9}}

    # zero-touched batch with commit_meta: metadata-only commit
    seq_a, _ = read_commit_meta(spark, tgt)
    empty = spark.createDataFrame([], SCHEMA + ", extra string")
    merge_into(
        spark, tgt, empty, keys=["k"], order_cols=["pri"],
        is_delete=F.col("dead"), commit_meta={"app": {"cursor": 11}},
    )
    seq_b, meta = read_commit_meta(spark, tgt)
    assert seq_b == seq_a + 1 and meta == {"app": {"cursor": 11}}

    # ... and WITHOUT commit_meta an empty batch commits nothing
    merge_into(
        spark, tgt, empty, keys=["k"], order_cols=["pri"],
        is_delete=F.col("dead"),
    )
    assert read_commit_meta(spark, tgt)[0] == seq_b


def test_refresh_survives_target_maintenance(spark, tmp_path):
    """A maintenance window on the AGGREGATE (rebucket + compact +
    vacuum) must not lose the cursor or the state."""
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k%d" % i, "g%d" % (i % 3), i, 1, False)
                     for i in range(12)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    maintain_merged_table(spark, dst, grace_sec=0.0)
    _assert_synced(spark, src, dst)
    _merge(spark, src, [("k1", "g1", 99, 2, False)])
    r = refresh_aggregate(spark, src, dst)
    assert r["groups_changed"] >= 1
    _assert_synced(spark, src, dst)


def test_source_maintenance_and_evolution_in_range(spark, tmp_path):
    """Compaction/rebucket/evolve on the SOURCE inside a refresh
    interval: the feed handles all three (r14 read_changes pins); the
    refresh must stay exact across them."""
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 10, 1, False), ("k2", "b", 5, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)

    _merge(spark, src, [("k3", "a", 2, 2, False)])
    compact_merged_table(spark, src)
    rebucket(spark, src, new_num_buckets=2)
    evolve_schema(spark, src, add={"note": "string"})
    _merge(
        spark, src, [("k4", "b", 4, 3, False, "hello")],
        schema=SCHEMA + ", note string",
    )
    refresh_aggregate(spark, src, dst)
    _assert_synced(spark, src, dst)

    # widen the aggregated column: deltas arrive in the TO type
    # (bigint), the stored sum was bigint from the start — exact
    evolve_schema(spark, src, widen={"v": "bigint"})
    _merge(
        spark, src,
        [("k5", "a", 2**40, 4, False, None)],
        schema="k string, grp string, v bigint, pri int, dead boolean, "
               "note string",
    )
    refresh_aggregate(spark, src, dst)
    got = {t[0]: t for t in _got(spark, dst)}
    assert got["a"][2] == 12 + 2**40
    _assert_synced(spark, src, dst)


def test_decimal_sum_is_exact(spark, tmp_path):
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    schema = "k string, grp string, amt decimal(12,2), pri int, dead boolean"
    from decimal import Decimal as D

    _merge(spark, src, [("k1", "a", D("1.25"), 1, False),
                        ("k2", "a", D("2.50"), 1, False)],
           schema=schema, num_buckets=2, protocol="manifest")
    refresh_aggregate(
        spark, src, dst, group_keys=["grp"],
        aggs={"n": ("count", "*"), "s": ("sum", "amt")},
    )
    out = read_aggregate(spark, dst)
    sum_dtype = dict(out.dtypes)["s"]
    assert sum_dtype.startswith("decimal")
    assert out.collect()[0]["s"] == D("3.75")

    _merge(spark, src, [("k1", "a", D("0.75"), 2, False),
                        ("k3", "a", D("10.00"), 2, False),
                        ("k2", "a", None, 2, True)], schema=schema)
    refresh_aggregate(spark, src, dst)
    out = read_aggregate(spark, dst)
    assert dict(out.dtypes)["s"] == sum_dtype  # no precision drift
    assert out.collect()[0]["s"] == D("10.75")


def test_empty_source_bootstrap_then_growth(spark, tmp_path):
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 1, 1, False)])
    _merge(spark, src, [("k1", "a", 1, 2, True)])  # now empty (pinned)
    r = refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    assert r["bootstrap"] and r["groups_changed"] == 0
    assert read_aggregate(spark, dst).count() == 0
    _merge(spark, src, [("k2", "b", 9, 3, False)])
    refresh_aggregate(spark, src, dst)
    _assert_synced(spark, src, dst)


def test_vacuum_horizon_refusal_and_vacuumed_bootstrap(spark, tmp_path):
    src = str(tmp_path / "s")
    _mk(spark, src, [("k1", "a", 1, 1, False)])
    _merge(spark, src, [("k2", "b", 2, 2, False)])

    dst1 = str(tmp_path / "a1")
    refresh_aggregate(spark, src, dst1, group_keys=["grp"], aggs=AGGS)

    # more commits, then vacuum everything behind the newest
    _merge(spark, src, [("k3", "c", 3, 3, False)])
    _merge(spark, src, [("k1", "a", 4, 4, False)])
    vacuum_merged_table(spark, src, grace_sec=0.0)

    # hmm — dst1's cursor (seq 2) may or may not survive depending on
    # what vacuum retains; if the oldest retained seq is above it, the
    # refresh must refuse with the remediation, never silently drift
    oldest = M.list_snapshots(spark, src)[0]["seq"]
    if oldest > 2:
        with pytest.raises(ValueError, match="below the source's retained"):
            refresh_aggregate(spark, src, dst1)
    else:
        refresh_aggregate(spark, src, dst1)
        _assert_synced(spark, src, dst1)

    # a FRESH aggregate against the vacuumed source bootstraps from the
    # full read regardless
    dst2 = str(tmp_path / "a2")
    r = refresh_aggregate(spark, src, dst2, group_keys=["grp"], aggs=AGGS)
    assert r["bootstrap"]
    _assert_synced(spark, src, dst2)


def test_negative_count_guard_catches_tampering(spark, tmp_path):
    """Out-of-band modification of the aggregate (which also proves the
    meta CARRY: the tampering merge carries the cursor forward) makes
    the next delta application go negative — refused loudly."""
    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 1, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)

    # tamper: force group a's count to 0 with a plain merge (carries
    # the ivm meta forward — that is exactly what makes this DETECTABLE
    # rather than a cursor loss)
    tamper = spark.createDataFrame(
        [("a", 0, 0, 0, 99)], "grp string, n long, sv long, cv long, __src_seq long"
    )
    merge_into(spark, dst, tamper, keys=["grp"], order_cols=["__src_seq"],
               is_delete=F.lit(False))

    _merge(spark, src, [("k1", "a", 1, 2, True)])  # -1 on a count of 0
    with pytest.raises(ValueError, match="negative row count"):
        refresh_aggregate(spark, src, dst)


def test_chained_ivm_maintains_distinct_count(spark, tmp_path):
    """IVM composes: an aggregate target is itself a manifest table
    with a change feed, so a SECOND refresh_aggregate over it works —
    which is exactly how count_distinct (refused as a direct op: not
    delta-decomposable) is maintained incrementally.  mid = per-(grp,
    v) row counts over the source; out = per-grp count of mid's
    groups == distinct v per grp (NULL is a value).  A value-count
    change inside a (grp, v) group reaches out as an update pair whose
    delta nets to zero; the distinct count moves only when a (grp, v)
    group is born or dies — both directions pinned below."""
    src = str(tmp_path / "s")
    mid = str(tmp_path / "mid")
    out = str(tmp_path / "out")
    mid_aggs = {"n": ("count", "*")}
    out_aggs = {"n_distinct": ("count", "*")}

    def sync():
        refresh_aggregate(spark, src, mid,
                          group_keys=["grp", "v"], aggs=mid_aggs)
        refresh_aggregate(spark, mid, out,
                          group_keys=["grp"], aggs=out_aggs)

    def expected_distinct():
        df = read_merged_table(spark, src)
        m: dict = {}
        if df is not None:
            for r in df.select("grp", "v").collect():
                m.setdefault(r["grp"], set()).add(r["v"])
        return sorted(((g, len(vs)) for g, vs in m.items()), key=repr)

    def got_distinct():
        return sorted(
            ((r["grp"], r["n_distinct"])
             for r in read_aggregate(spark, out).collect()),
            key=repr,
        )

    _mk(spark, src, [("k1", "a", 1, 1, False), ("k2", "a", 1, 1, False),
                     ("k3", "a", 2, 1, False), ("k4", "b", None, 1, False)])
    sync()
    assert got_distinct() == expected_distinct() == [("a", 2), ("b", 1)]

    # same-value count change: distinct count must NOT move
    _merge(spark, src, [("k5", "a", 1, 2, False)])
    sync()
    assert got_distinct() == expected_distinct() == [("a", 2), ("b", 1)]

    # a value dies (last 2-valued row deleted) and a value is born
    _merge(spark, src, [("k3", "a", 2, 3, True), ("k6", "b", 9, 3, False)])
    sync()
    assert got_distinct() == expected_distinct() == [("a", 1), ("b", 2)]

    # whole group dies through the chain
    _merge(spark, src, [("k4", "b", None, 4, True), ("k6", "b", 9, 4, True)])
    sync()
    assert got_distinct() == expected_distinct() == [("a", 1)]

    # the refusal teaches exactly this recipe
    with pytest.raises(ValueError, match="CHAIN two aggregates"):
        refresh_aggregate(
            spark, src, str(tmp_path / "x"), ["grp"],
            {"n": ("count", "*"), "d": ("count_distinct", "v")},
        )


def test_concurrent_refresh_interleave_is_cas_fenced(spark, tmp_path,
                                                     monkeypatch):
    """A FAITHFUL interleave, not just the unit CAS: refresh A reads
    its plan basis, a full refresh B lands in between (injected inside
    A's lookup step), then A's merge must refuse — committing A's
    deltas on top of B's would double-apply them."""
    import lens_sds_batch_spark.plans.ivm as ivm_mod

    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 10, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    _merge(spark, src, [("k2", "a", 5, 2, False)])

    orig_lookup = ivm_mod.lookup_merged_keys
    state = {"sneaked": False}

    def sneaky_lookup(spark_, path, probe):
        out = orig_lookup(spark_, path, probe)
        if not state["sneaked"]:
            state["sneaked"] = True  # guard: B must not recurse into C
            refresh_aggregate(spark_, src, dst)  # B: completes first
        return out

    monkeypatch.setattr(ivm_mod, "lookup_merged_keys", sneaky_lookup)
    with pytest.raises(ValueError, match="planned against has moved"):
        refresh_aggregate(spark, src, dst)  # A: plan basis moved under it
    monkeypatch.undo()
    assert state["sneaked"]

    # B already applied the feed; the state is exact and a retry of A
    # is a pure no-op
    _assert_synced(spark, src, dst)
    r = refresh_aggregate(spark, src, dst)
    assert r["from_seq"] == r["to_seq"]


def test_checkpointed_stream_epoch_replay_refreshes_exactly_once(
    spark, tmp_path
):
    """The streaming exactly-once story end-to-end: a CHECKPOINTED
    foreachBatch pipeline (entity merge, then aggregate refresh per
    epoch) crashes BETWEEN the entity commit and the refresh.  The
    epoch is not checkpoint-committed, so the restart replays it: the
    entity merge replays idempotently (LWW, a fresh seq over identical
    state) and the refresh folds the crashed commit AND the replay in
    one feed application — the aggregate can neither miss the epoch
    nor double-count it."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from lens_sds_batch_spark.plans.ivm import ivm_status

    src = str(tmp_path / "files")
    entity = str(tmp_path / "entity")
    agg = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    armed = {"crash": False}

    def sink(batch_df, _epoch):
        merge_into(
            spark, entity, batch_df, keys=["k"], order_cols=["pri"],
            is_delete=F.col("dead"), num_buckets=4, protocol="manifest",
        )
        if armed["crash"] and not batch_df.isEmpty():
            armed["crash"] = False
            raise IOError(
                "injected crash between entity merge and aggregate refresh"
            )
        refresh_aggregate(spark, entity, agg,
                          group_keys=["grp"], aggs=AGGS)

    def run_stream(expect_fail=None):
        q = (
            spark.readStream.schema(SCHEMA).parquet(src)
            .writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(sink).start()
        )
        try:
            if expect_fail is not None:
                with pytest.raises(StreamingQueryException, match=expect_fail):
                    q.processAllAvailable()
            else:
                q.processAllAvailable()
        finally:
            q.stop()

    spark.createDataFrame(
        [("k1", "a", 10, 1, False), ("k2", "b", 5, 1, False)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    _assert_synced(spark, entity, agg)

    # epoch 2 carries an update, a delete and an insert; crash after
    # the entity commit, before the refresh
    spark.createDataFrame(
        [("k1", "a", 42, 2, False), ("k2", "b", 0, 2, True),
         ("k3", "a", 7, 2, False)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    armed["crash"] = True
    run_stream(expect_fail="injected crash")

    # interim: the entity moved, the aggregate is honestly BEHIND
    s = ivm_status(spark, entity, agg)
    assert s["behind"] and s["lag_commits"] >= 1

    # restart from the same checkpoint: the epoch replays, the merge
    # replay is idempotent, the refresh applies the net feed once
    run_stream()
    _assert_synced(spark, entity, agg)
    got = {t[0]: t for t in _got(spark, agg)}
    assert got["a"] == ("a", 2, 49, 2)  # k1 updated to 42, k3 inserted
    assert "b" not in got  # k2 deleted: group b died through the replay


def test_ivm_status_reports_lag_and_risk(spark, tmp_path):
    from lens_sds_batch_spark.plans.ivm import ivm_status

    src, dst = str(tmp_path / "s"), str(tmp_path / "a")
    _mk(spark, src, [("k1", "a", 10, 1, False)])
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    s = ivm_status(spark, src, dst)
    assert s["lag_commits"] == 0 and not s["behind"] and not s["at_risk"]
    assert s["group_keys"] == ["grp"] and s["aggs"] == AGGS

    _merge(spark, src, [("k2", "b", 1, 2, False)])
    _merge(spark, src, [("k3", "b", 2, 3, False)])
    s = ivm_status(spark, src, dst)
    assert s["lag_commits"] == 2 and s["behind"] and not s["at_risk"]

    vacuum_merged_table(spark, src, grace_sec=0.0)
    s = ivm_status(spark, src, dst)
    if s["at_risk"]:  # grace-0 vacuum collected the cursor's manifest
        with pytest.raises(ValueError, match="below the source's retained"):
            refresh_aggregate(spark, src, dst)
    else:
        refresh_aggregate(spark, src, dst)
        _assert_synced(spark, src, dst)

    with pytest.raises(ValueError, match="no IVM commit metadata"):
        ivm_status(spark, src, src)


# ---------------------------------------------------------------------------
# refusals
# ---------------------------------------------------------------------------


def test_spec_refusals(spark, tmp_path):
    src = str(tmp_path / "s")
    _mk(spark, src, [("k1", "a", 1, 1, False)])
    dst = str(tmp_path / "a")

    base = {"n": ("count", "*")}
    with pytest.raises(ValueError, match="avg is not maintained"):
        refresh_aggregate(spark, src, dst, ["grp"],
                          {**base, "m": ("avg", "v")})
    with pytest.raises(ValueError, match="not delta-decomposable"):
        refresh_aggregate(spark, src, dst, ["grp"],
                          {**base, "m": ("max", "v")})
    with pytest.raises(ValueError, match="must include one"):
        refresh_aggregate(spark, src, dst, ["grp"], {"s": ("sum", "v")})
    with pytest.raises(ValueError, match="not a source column"):
        refresh_aggregate(spark, src, dst, ["grp"],
                          {**base, "s": ("sum", "nope")})
    with pytest.raises(ValueError, match="unsupported op"):
        refresh_aggregate(spark, src, dst, ["grp"],
                          {**base, "s": ("median", "v")})
    with pytest.raises(ValueError, match="group_keys must be non-empty"):
        refresh_aggregate(spark, src, dst, [], base)
    with pytest.raises(ValueError, match="collides with a group key"):
        refresh_aggregate(spark, src, dst, ["grp"],
                          {"n": ("count", "*"), "grp": ("sum", "v")})
    # a chained source exposes __src_seq as a data column; grouping on
    # a storage internal must refuse up front (adversarial-pass find:
    # it would otherwise collide with the refresh's recency column)
    with pytest.raises(ValueError, match="reserved"):
        refresh_aggregate(spark, src, dst, ["__src_seq"],
                          {"n": ("count", "*")})

    # float sums refused
    srcf = str(tmp_path / "sf")
    merge_into(
        spark, srcf,
        spark.createDataFrame([("k1", "a", 1.5, 1, False)],
                              "k string, grp string, x double, pri int, "
                              "dead boolean"),
        keys=["k"], order_cols=["pri"], is_delete=F.col("dead"),
        num_buckets=2, protocol="manifest",
    )
    with pytest.raises(ValueError, match="floating-point delta"):
        refresh_aggregate(spark, srcf, dst, ["grp"],
                          {"n": ("count", "*"), "s": ("sum", "x")})

    # bootstrap without a spec
    with pytest.raises(ValueError, match="must pass group_keys and aggs"):
        refresh_aggregate(spark, src, str(tmp_path / "fresh"))


def test_target_and_drift_refusals(spark, tmp_path):
    src = str(tmp_path / "s")
    src2 = str(tmp_path / "s2")
    _mk(spark, src, [("k1", "a", 1, 1, False)])
    _mk(spark, src2, [("k1", "a", 1, 1, False)])
    dst = str(tmp_path / "a")
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)

    # a manifest table that is not an IVM aggregate
    with pytest.raises(ValueError, match="no IVM commit metadata"):
        refresh_aggregate(spark, src, src2)
    # wrong source
    with pytest.raises(ValueError, match="one aggregate follows one source"):
        refresh_aggregate(spark, src2, dst)
    # spec drift
    with pytest.raises(ValueError, match="grouping cannot change"):
        refresh_aggregate(spark, src, dst, group_keys=["k"], aggs=AGGS)
    with pytest.raises(ValueError, match="aggregate set cannot change"):
        refresh_aggregate(spark, src, dst, group_keys=["grp"],
                          aggs={"n": ("count", "*")})


def test_commit_meta_refused_off_the_manifest_flavor(spark, tmp_path):
    # a plain parquet dir is not a merge target: refused, untouched
    t1 = str(tmp_path / "t1")
    spark.createDataFrame([("k1", "a", 1, 1, False)], SCHEMA).write.parquet(t1)
    for kw in ({"commit_meta": {"x": 1}}, {"expect_seq": 0}):
        with pytest.raises(ValueError, match="not a manifest-commit target"):
            _merge(spark, t1, [("k2", "a", 1, 2, False)], **kw)
    assert spark.read.parquet(t1).count() == 1
    # a target laid out without protocol= is the same manifest table:
    # both knobs apply there
    t2 = str(tmp_path / "t2")
    _merge(spark, t2, [("k1", "a", 1, 1, False)], num_buckets=2)
    r = _merge(spark, t2, [("k2", "a", 1, 2, False)], commit_meta={"x": 1},
               expect_seq=1)
    assert read_commit_meta(spark, t2) == (r["seq"], {"x": 1})
    with pytest.raises(ValueError, match="expect_seq=1 but"):
        _merge(spark, t2, [("k3", "a", 1, 3, False)], expect_seq=1)
    # non-JSON meta
    t3 = str(tmp_path / "t3")
    with pytest.raises(ValueError, match="JSON-serializable"):
        _merge(spark, t3, [("k1", "a", 1, 1, False)],
               num_buckets=2, protocol="manifest",
               commit_meta={"bad": object()})


# ---------------------------------------------------------------------------
# property: random batches + random refresh cadence == recompute
# ---------------------------------------------------------------------------

_KEYS = [f"k{i}" for i in range(6)]
_GRPS = ["a", "b", None]
_BATCH = st.lists(
    st.tuples(
        st.sampled_from(_KEYS),
        st.sampled_from(_GRPS),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=9)),
        st.booleans(),
    ),
    min_size=1, max_size=5,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    steps=st.lists(st.tuples(_BATCH, st.booleans(), st.booleans(),
                             st.booleans()),
                   min_size=1, max_size=5)
)
def test_ivm_matches_recompute_under_random_lifecycles(spark, steps):
    """Random upsert/delete batches, random refresh cadence, an
    occasional source compaction, and randomly CRASHED refreshes (a
    crash injected into the manifest commit — the atomic-cursor
    protocol's only crash point): after a final refresh the maintained
    aggregate equals the full recomputation — the IVM law.  This is
    the property family that refuted replicate_changes' sidecar cursor
    (test_read_changes), pointed at the delta consumer, where a
    stale-cursor replay would not merely diverge but DOUBLE-COUNT."""
    d = tempfile.mkdtemp(prefix="ivm_prop_")
    src, dst = d + "/src", d + "/agg"
    first = True
    pri = 0
    for batch, do_refresh, do_compact, do_crash in steps:
        pri += 1
        rows = [(k, g, v, pri, dead) for (k, g, v, dead) in batch]
        if first:
            _mk(spark, src, rows, num_buckets=2)
            first = False
        else:
            _merge(spark, src, rows)
        if do_compact:
            compact_merged_table(spark, src)
        if do_refresh:
            # passing the spec every time also re-verifies it against
            # the stored one on incremental calls
            if do_crash:
                orig = M._commit_manifest

                def boom(*a, **k):
                    raise IOError("injected crash")

                M._commit_manifest = boom
                try:
                    refresh_aggregate(spark, src, dst,
                                      group_keys=["grp"], aggs=AGGS)
                except IOError:
                    pass  # the sync was atomically lost
                finally:
                    M._commit_manifest = orig
            else:
                refresh_aggregate(spark, src, dst,
                                  group_keys=["grp"], aggs=AGGS)
    if first:
        return
    refresh_aggregate(spark, src, dst, group_keys=["grp"], aggs=AGGS)
    _assert_synced(spark, src, dst)
