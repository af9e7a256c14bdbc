"""r14: the NET change feed over manifest-commit merge targets
(plans.merge.read_changes) — the Delta Change Data Feed / Iceberg
incremental-read analog, derived from the protocol's retained
generations.

The load-bearing claim is the reconstruction law:

    snapshot(FROM)  minus  keys(delete ∪ update_preimage)
                    union  rows(insert ∪ update_postimage)
        ==  snapshot(TO)

pinned deterministically below and as a hypothesis property over
random merge/evolve/maintenance interleavings (the r13 lifecycle
property's sibling).  The scale claim — only buckets whose live
generation differs are READ — is pinned through inputFiles(), and the
claim's safety valves (rebucket in range → full-map fallback,
compaction in range → zero-row diff) are pinned separately.

Reference semantics anchor: the reference's store consumers re-read
full state per batch (import_clinical_data.clj:239-263); at 100 TB a
downstream consumer needs the O(changed) incremental form instead.
"""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lens_sds_batch_spark.plans.merge import (
    BUCKET_COL,
    compact_merged_table,
    evolve_schema,
    list_snapshots,
    merge_into,
    read_changes,
    read_merged_table,
    rebucket,
    vacuum_merged_table,
)

SCHEMA = "k string, pri int, v string, dead boolean"


def _merge(spark, target, rows, schema=SCHEMA, **kw):
    return merge_into(
        spark, target, spark.createDataFrame(rows, schema),
        keys=["k"], order_cols=["pri"], is_delete=F.col("dead"), **kw,
    )


def _mk(spark, target, rows, **kw):
    kw.setdefault("num_buckets", 4)
    kw.setdefault("protocol", "manifest")
    return _merge(spark, target, rows, **kw)


def _sorted(seq):
    """None-safe total order (repr-keyed) for tuples mixing None/str."""
    return sorted(seq, key=repr)


def _rows(df):
    """Order-insensitive canonical form: sorted list of per-row dicts
    rendered as sorted (col, value) tuples (None-safe)."""
    return _sorted(
        tuple(sorted(r.asDict().items(), key=lambda kv: kv[0]))
        for r in df.collect()
    )


def _naive_diff(spark, target, from_seq, to_seq):
    """Expected net changes computed the slow way: full snapshot reads
    at both seqs (conformed by hand across an evolve boundary — the
    snapshot read deliberately preserves each seq's OWN schema) and a
    per-key dict compare."""
    cols_b, a, b = None, {}, {}
    df_b = read_merged_table(spark, target, as_of_seq=to_seq)
    cols_b = [c for c in df_b.columns if c != BUCKET_COL] if df_b is not None else None
    df_a = read_merged_table(spark, target, as_of_seq=from_seq)
    if cols_b is None:
        cols_b = [c for c in df_a.columns if c != BUCKET_COL] if df_a is not None else []
    for src, dst in ((df_a, a), (df_b, b)):
        if src is None:
            continue
        for r in src.collect():
            d = r.asDict()
            dst[d["k"]] = tuple(d.get(c) for c in cols_b if c != "k")
    expected = []
    for k in set(a) | set(b):
        if k in a and k not in b:
            expected.append((k, *a[k], "delete"))
        elif k in b and k not in a:
            expected.append((k, *b[k], "insert"))
        elif a[k] != b[k]:
            expected.append((k, *a[k], "update_preimage"))
            expected.append((k, *b[k], "update_postimage"))
    return _sorted(expected), cols_b


def _got(spark, target, from_seq, to_seq, cols_b):
    ch = read_changes(spark, target, from_seq=from_seq, to_seq=to_seq)
    out_cols = [c for c in cols_b if c != "k"]
    return _sorted(
        (d["k"], *[d[c] for c in out_cols], d["_change_type"])
        for d in (r.asDict() for r in ch.collect())
    )


def _assert_matches_naive(spark, target, from_seq, to_seq):
    expected, cols_b = _naive_diff(spark, target, from_seq, to_seq)
    assert _got(spark, target, from_seq, to_seq, cols_b) == expected


def _reconstruct(spark, target, from_seq, to_seq):
    """Apply the feed onto snapshot(FROM) and assert == snapshot(TO)."""
    ch = read_changes(spark, target, from_seq=from_seq, to_seq=to_seq)
    base = read_merged_table(spark, target, as_of_seq=from_seq)
    cols = [c for c in ch.columns if c != "_change_type"]
    if base is None:
        base = ch.select(*cols).limit(0)
    else:
        # conform the FROM snapshot to the feed's (TO) schema by hand:
        # missing columns read NULL, widened columns cast up
        ch_types = dict(ch.dtypes)
        base = base.select(
            *[
                (F.col(c) if c in base.columns else F.lit(None)).cast(
                    ch_types[c]
                ).alias(c)
                for c in cols
            ]
        )
    removed = ch.where(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("k")
    added = ch.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*cols)
    rebuilt = base.join(
        removed, base["k"].eqNullSafe(removed["k"]), "left_anti"
    ).unionByName(added)
    final = read_merged_table(spark, target, as_of_seq=to_seq)
    if final is None:
        assert rebuilt.count() == 0
        return
    final = final.select(*cols)
    assert _rows(rebuilt) == _rows(final)


# ---------------------------------------------------------------------------
# deterministic behavior
# ---------------------------------------------------------------------------


def test_basic_insert_update_delete_and_null_key(spark, tmp_path):
    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [
        ("a", 1, "x", False), ("b", 1, "y", False), (None, 1, "nk", False),
    ])
    r2 = _merge(spark, tgt, [
        ("a", 2, "x2", False),        # update
        ("c", 1, "z", False),         # insert
        ("b", 2, None, True),         # delete (winning tombstone)
        (None, 2, "nk2", False),      # NULL-key update (r13 NULL routing)
    ])
    got = _got(spark, tgt, r1["seq"], r2["seq"], ["k", "pri", "v", "dead"])
    assert got == _sorted([
        ("a", 1, "x", False, "update_preimage"),
        ("a", 2, "x2", False, "update_postimage"),
        ("b", 1, "y", False, "delete"),
        ("c", 1, "z", False, "insert"),
        (None, 1, "nk", False, "update_preimage"),
        (None, 2, "nk2", False, "update_postimage"),
    ])
    _reconstruct(spark, tgt, r1["seq"], r2["seq"])
    # from the empty init commit: everything resolved at TO is an insert
    assert {r["_change_type"] for r in read_changes(spark, tgt, 0).collect()} == {
        "insert"
    }


def test_equal_seqs_yield_empty_frame_with_schema(spark, tmp_path):
    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [("a", 1, "x", False)])
    ch = read_changes(spark, tgt, from_seq=r1["seq"], to_seq=r1["seq"])
    assert ch.count() == 0
    assert ch.columns == ["k", "pri", "v", "dead", "_change_type"]


def test_net_semantics_collapse_a_change_and_its_revert(spark, tmp_path):
    """A key deleted then re-inserted with IDENTICAL values inside the
    range nets out to nothing; a key changed then changed back nets out
    too — the feed answers 'what differs', not 'what happened'."""
    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [("a", 1, "x", False), ("b", 1, "y", False)])
    _merge(spark, tgt, [("a", 2, "mid", False), ("b", 2, None, True)])
    r3 = _merge(spark, tgt, [
        ("a", 3, "x", False),   # changed back (pri rises though!)
        ("b", 3, "y", False),   # re-inserted after the delete
    ])
    got = _got(spark, tgt, r1["seq"], r3["seq"], ["k", "pri", "v", "dead"])
    # 'b' nets to an update only because pri moved 1 -> 3; 'a' likewise.
    # A TRUE no-op revert (all columns equal) must vanish:
    r4 = _merge(spark, tgt, [("a", 3, "zz", False)])  # pri tie: target wins
    assert _got(spark, tgt, r3["seq"], r4["seq"], ["k", "pri", "v", "dead"]) == []
    assert {g[0] for g in got} == {"a", "b"}
    assert all(g[-1].startswith("update_") for g in got)


def test_multi_commit_net_matches_naive_diff_everywhere(spark, tmp_path):
    tgt = str(tmp_path / "t")
    seqs = [0]
    seqs.append(_mk(spark, tgt, [
        ("a", 1, "x", False), ("b", 1, "y", False), ("c", 1, "z", False),
    ])["seq"])
    seqs.append(_merge(spark, tgt, [
        ("a", 2, "x2", False), ("d", 1, "w", False), ("c", 2, None, True),
    ])["seq"])
    seqs.append(_merge(spark, tgt, [
        ("b", 3, None, True), ("c", 3, "z3", False), ("e", 1, "q", False),
    ])["seq"])
    for i in range(len(seqs)):
        for j in range(i, len(seqs)):
            _assert_matches_naive(spark, tgt, seqs[i], seqs[j])
    _reconstruct(spark, tgt, seqs[0], seqs[-1])
    _reconstruct(spark, tgt, seqs[1], seqs[-1])


def test_pruning_reads_only_changed_buckets(spark, tmp_path):
    """The scale contract: a bucket whose live generation is the same
    in both manifests is never scanned."""
    tgt = str(tmp_path / "t")
    rows = [(f"k{i}", 1, f"v{i}", False) for i in range(40)]
    r1 = _mk(spark, tgt, rows, num_buckets=8)
    r2 = _merge(spark, tgt, [("k0", 2, "v0b", False)])
    ch = read_changes(spark, tgt, from_seq=r1["seq"], to_seq=r2["seq"])
    buckets_read = {
        seg
        for f in ch.inputFiles()
        for seg in f.split("/")
        if seg.startswith(BUCKET_COL + "=")
    }
    assert len(buckets_read) == 1  # only k0's bucket, both generations
    assert _rows(ch.select("k", "_change_type")) == _rows(
        spark.createDataFrame(
            [("k0", "update_preimage"), ("k0", "update_postimage")],
            "k string, _change_type string",
        )
    )


def test_compaction_in_range_diffs_to_zero_rows(spark, tmp_path):
    """Compaction rewrites generations without changing state: the
    pruner sees 'changed' buckets, the diff must still be empty."""
    tgt = str(tmp_path / "t")
    # multi-file generations so compaction has work (AQE's partition
    # coalescing would undo the craft at toy size — same craft as
    # test_merge_protocols' compaction pin)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, None)
    spark.conf.set(coalesce_key, "false")
    try:
        _mk(spark, tgt, [(f"k{i}", 1, f"v{i}", False) for i in range(40)],
            num_buckets=2)
        r2 = _merge(spark, tgt, [("k0", 2, "v0b", False)])
    finally:
        spark.conf.set(coalesce_key, prev if prev is not None else "true")
    comp = compact_merged_table(spark, tgt)
    assert comp["compacted_buckets"], f"vacuous: nothing compacted ({comp})"
    latest = comp["seq"]
    assert latest > r2["seq"]
    ch = read_changes(spark, tgt, from_seq=r2["seq"], to_seq=latest)
    assert ch.count() == 0
    assert len(ch.inputFiles()) > 0  # it DID look (pruning can't know)


def test_rebucket_in_range_falls_back_to_full_diff(spark, tmp_path):
    """Bucket ids are incomparable across a rebucket: the pruner must
    fall back to the full live maps, unchanged keys must still not
    appear (bucket id itself is excluded from the value compare)."""
    tgt = str(tmp_path / "t")
    rows = [(f"k{i}", 1, f"v{i}", False) for i in range(20)]
    r1 = _mk(spark, tgt, rows, num_buckets=4)
    rebucket(spark, tgt, 8)
    r3 = _merge(spark, tgt, [("k1", 2, "v1b", False), ("zz", 1, "new", False)])
    _assert_matches_naive(spark, tgt, r1["seq"], r3["seq"])
    got = _got(spark, tgt, r1["seq"], r3["seq"], ["k", "pri", "v", "dead"])
    assert {g[0] for g in got} == {"k1", "zz"}
    _reconstruct(spark, tgt, r1["seq"], r3["seq"])


def test_metadata_add_in_range_reads_in_to_schema(spark, tmp_path):
    """Evolve-add between the bounds: the feed carries the TO schema;
    an untouched key does NOT appear just because the schema grew (its
    pre-image reads the same typed NULL as its post-image)."""
    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [("a", 1, "x", False), ("b", 1, "y", False)])
    evolve_schema(spark, tgt, add={"extra": "string"})
    r3 = _merge(
        spark, tgt, [("a", 2, "x2", False, "E")],
        schema=SCHEMA + ", extra string",
    )
    ch = read_changes(spark, tgt, from_seq=r1["seq"], to_seq=r3["seq"])
    assert ch.columns == ["k", "pri", "v", "dead", "extra", "_change_type"]
    got = _rows(ch)
    ks = {dict(t)["k"] for t in got}
    assert ks == {"a"}  # 'b' is schema-grown but value-unchanged
    by_type = {dict(t)["_change_type"]: dict(t) for t in got}
    assert by_type["update_preimage"]["extra"] is None
    assert by_type["update_postimage"]["extra"] == "E"
    _assert_matches_naive(spark, tgt, r1["seq"], r3["seq"])
    _reconstruct(spark, tgt, r1["seq"], r3["seq"])


def test_widen_in_range_casts_preimage_up(spark, tmp_path):
    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [("a", 1, "x", False), ("b", 1, "y", False)])
    evolve_schema(spark, tgt, widen={"pri": "bigint"})
    r3 = _merge(
        spark, tgt, [("a", 2, "x2", False)],
        schema="k string, pri bigint, v string, dead boolean",
    )
    ch = read_changes(spark, tgt, from_seq=r1["seq"], to_seq=r3["seq"])
    assert dict(ch.dtypes)["pri"] == "bigint"
    got = _rows(ch)
    assert {dict(t)["k"] for t in got} == {"a"}  # 'b' value-unchanged
    _assert_matches_naive(spark, tgt, r1["seq"], r3["seq"])


def test_all_rows_deleted_reads_as_deletes(spark, tmp_path):
    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [("a", 1, "x", False), ("b", 1, "y", False)])
    r2 = _merge(spark, tgt, [("a", 2, None, True), ("b", 2, None, True)])
    assert read_merged_table(spark, tgt) is None
    got = _got(spark, tgt, r1["seq"], r2["seq"], ["k", "pri", "v", "dead"])
    assert got == _sorted([
        ("a", 1, "x", False, "delete"), ("b", 1, "y", False, "delete"),
    ])
    _reconstruct(spark, tgt, r1["seq"], r2["seq"])


def test_incremental_replica_via_change_feed(spark, tmp_path):
    """The 100 TB consumer pattern end-to-end: a downstream REPLICA
    table maintained purely from the change feed (insert/
    update_postimage → upsert, delete → tombstone, cycle number as the
    recency column) converges to the source state without ever reading
    the source table in full after the first cycle."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    batches = [
        [("a", 1, "x", False), ("b", 1, "y", False), ("c", 1, "z", False)],
        [("a", 2, "x2", False), ("d", 1, "w", False)],
        [("b", 3, None, True), ("c", 3, "z3", False), ("e", 1, "q", False)],
        [("e", 4, None, True), ("a", 4, "x4", False)],
    ]
    last = 0
    for cycle, batch in enumerate(batches):
        if cycle == 0:
            _mk(spark, src, batch)
        else:
            _merge(spark, src, batch)
        latest = list_snapshots(spark, src)[-1]["seq"]
        ch = read_changes(spark, src, from_seq=last, to_seq=latest)
        upd = (
            ch.where(F.col("_change_type") != "update_preimage")
            .withColumn("__cycle", F.lit(cycle))
            .withColumn("__is_del", F.col("_change_type") == "delete")
            .drop("_change_type")
        )
        merge_into(
            spark, dst, upd, keys=["k"], order_cols=["__cycle"],
            is_delete=F.col("__is_del"),
            **({"num_buckets": 4, "protocol": "manifest"} if cycle == 0 else {}),
        )
        last = latest
    src_state = read_merged_table(spark, src).select("k", "pri", "v")
    dst_state = read_merged_table(spark, dst).select("k", "pri", "v")
    assert _rows(dst_state) == _rows(src_state)
    assert _rows(src_state.select("k")) == _rows(
        spark.createDataFrame([("a",), ("c",), ("d",)], "k string")
    )


class _crash_next_commit:
    """Context manager injecting a crash INTO the manifest commit —
    the only crash shape left now that the sync cursor rides the
    commit itself (the sidecar-cursor rewind this replaced simulated a
    crash point that no longer exists; hypothesis proved that shape
    NON-CONVERGENT — see replicate_changes' crash contract)."""

    def __enter__(self):
        import lens_sds_batch_spark.plans.merge as M

        self._m, self._orig = M, M._commit_manifest

        def boom(*a, **k):
            raise IOError("injected crash before the manifest rename")

        M._commit_manifest = boom
        return self

    def __exit__(self, *exc):
        self._m._commit_manifest = self._orig
        return False


def test_replicate_changes_end_to_end(spark, tmp_path):
    """The productionized consumer (plans.merge.replicate_changes):
    cursor-driven incremental sync converges the replica after every
    step, a no-op step applies nothing, and a step CRASHED at its
    commit point leaves data and cursor both untouched (they are one
    atomic rename), so the retry applies the feed exactly once."""
    from lens_sds_batch_spark.plans.merge import (
        read_commit_meta,
        replicate_changes,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")

    def src_state():
        df = read_merged_table(spark, src)
        return _rows(df.select("k", "pri", "v")) if df is not None else []

    def dst_state():
        df = read_merged_table(spark, dst)
        return _rows(df.select("k", "pri", "v")) if df is not None else []

    _mk(spark, src, [("a", 1, "x", False), ("b", 1, "y", False)])
    r = replicate_changes(spark, src, dst)
    assert r["bootstrap"] is False and r["from_seq"] == 0
    assert dst_state() == src_state()

    # no new commits: a pure no-op (no merge, no commit at all)
    seq_noop, _ = read_commit_meta(spark, dst)
    r2 = replicate_changes(spark, src, dst)
    assert r2["from_seq"] == r2["to_seq"] and r2["rows_applied"] == 0
    assert read_commit_meta(spark, dst)[0] == seq_noop

    _merge(spark, src, [("a", 2, "x2", False), ("b", 2, None, True),
                        ("c", 1, "z", False)])

    # crash INJECTED into the sync's commit: data and cursor are one
    # rename, so neither moved — THE scenario the sidecar design lost
    # (with a stale external cursor, a subsequent source revert/delete
    # nets out of the feed and the replica diverges forever)
    state_pre, meta_pre = dst_state(), read_commit_meta(spark, dst)
    with _crash_next_commit():
        with pytest.raises(IOError, match="injected crash"):
            replicate_changes(spark, src, dst)
    assert dst_state() == state_pre
    assert read_commit_meta(spark, dst) == meta_pre

    # the retry applies the feed exactly once and converges
    r3 = replicate_changes(spark, src, dst)
    assert r3["rows_applied"] > 0
    assert dst_state() == src_state()

    # re-running with nothing new: converged and idempotent
    r4 = replicate_changes(spark, src, dst)
    assert r4["from_seq"] == r4["to_seq"] == r3["to_seq"]
    assert dst_state() == src_state()

    # THE hypothesis counterexample, pinned deterministically: under
    # the old sidecar protocol a crash-after-merge left a stale cursor;
    # a source change that NETS OUT over the stale range (here: insert
    # then delete of k9) produced no feed row, stranding the replica.
    # With the atomic cursor the crashed sync leaves no partial state
    # at all, and the retry sees the delete.
    _merge(spark, src, [("k9", 3, "ghost", False)])
    with _crash_next_commit():
        with pytest.raises(IOError, match="injected crash"):
            replicate_changes(spark, src, dst)
    _merge(spark, src, [("k9", 4, None, True)])  # net: k9 never existed
    replicate_changes(spark, src, dst)
    assert dst_state() == src_state()


def test_replicate_changes_bootstrap_and_horizon_refusal(spark, tmp_path):
    from lens_sds_batch_spark.plans.merge import replicate_changes

    src = str(tmp_path / "src")
    _mk(spark, src, [("a", 1, "x", False), ("b", 1, "y", False)])
    _merge(spark, src, [("b", 2, None, True), ("c", 1, "z", False)])

    # fresh replica against an already-vacuumed source: the from-0 feed
    # base is gone — bootstraps from the full resolver read
    vacuum_merged_table(spark, src, grace_sec=0.0)
    dst = str(tmp_path / "dst")
    r = replicate_changes(spark, src, dst)
    assert r["bootstrap"] is True and r["rows_applied"] == 2
    assert _rows(read_merged_table(spark, dst).select("k", "pri", "v")) == _rows(
        read_merged_table(spark, src).select("k", "pri", "v")
    )

    # cursor below the horizon: more source commits, vacuum again, and
    # a replica that slept through it must be refused loudly
    _merge(spark, src, [("d", 1, "w", False)])
    _merge(spark, src, [("e", 1, "q", False)])
    vacuum_merged_table(spark, src, grace_sec=0.0)
    with pytest.raises(ValueError, match="below the source's retained horizon"):
        replicate_changes(spark, src, dst)

    # wrong source: a replica follows ONE source — pointing the sync
    # at another table is refused via the committed cursor's identity
    other = str(tmp_path / "other")
    _mk(spark, other, [("z", 1, "zz", False)])
    with pytest.raises(ValueError, match="tracks source"):
        replicate_changes(spark, other, dst)

    # a manifest table that is NOT a replica (no cursor in its commit
    # metadata) is refused — blind syncing would corrupt it
    with pytest.raises(ValueError, match="no replication cursor"):
        replicate_changes(spark, src, other)


def test_replica_status_reports_lag_and_risk(spark, tmp_path):
    from lens_sds_batch_spark.plans.merge import (
        replica_status,
        replicate_changes,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk(spark, src, [("a", 1, "x", False)])
    replicate_changes(spark, src, dst)
    s = replica_status(spark, src, dst)
    assert s["lag_commits"] == 0 and not s["behind"] and not s["at_risk"]

    _merge(spark, src, [("b", 2, "y", False)])
    _merge(spark, src, [("c", 3, "z", False)])
    s = replica_status(spark, src, dst)
    assert s["lag_commits"] == 2 and s["behind"] and not s["at_risk"]

    vacuum_merged_table(spark, src, grace_sec=0.0)
    s = replica_status(spark, src, dst)
    if s["at_risk"]:
        with pytest.raises(ValueError, match="below the source's retained"):
            replicate_changes(spark, src, dst)
    else:
        replicate_changes(spark, src, dst)

    with pytest.raises(ValueError, match="no replication cursor"):
        replica_status(spark, src, src)
    other = str(tmp_path / "other")
    _mk(spark, other, [("z", 1, "q", False)])
    with pytest.raises(ValueError, match="tracks source"):
        replica_status(spark, other, dst)


def test_replicate_changes_across_source_evolution(spark, tmp_path):
    """Source schema evolution surfaces as the replica merge's own
    drift refusal; evolving the REPLICA the same way un-blocks the
    sync and the added column flows through (typed NULL on pre-add
    rows)."""
    from lens_sds_batch_spark.plans.merge import replicate_changes

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk(spark, src, [("a", 1, "x", False), ("b", 1, "y", False)])
    replicate_changes(spark, src, dst)

    evolve_schema(spark, src, add={"extra": "string"})
    _merge(spark, src, [("a", 2, "x2", False, "E")],
           schema=SCHEMA + ", extra string")
    with pytest.raises(ValueError, match="schema drift"):
        replicate_changes(spark, src, dst)
    evolve_schema(spark, dst, add={"extra": "string"})
    r = replicate_changes(spark, src, dst)
    assert r["rows_applied"] > 0
    got = {
        d["k"]: (d["pri"], d["v"], d["extra"])
        for d in (
            r_.asDict()
            for r_ in read_merged_table(spark, dst)
            .select("k", "pri", "v", "extra").collect()
        )
    }
    assert got == {"a": (2, "x2", "E"), "b": (1, "y", None)}


_REPL_BATCH = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3", "k4"]),
        st.integers(min_value=0, max_value=9),
        st.sampled_from(["v1", "v2", "v3"]),
        st.booleans(),
    ),
    min_size=1, max_size=4,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    steps=st.lists(
        st.tuples(_REPL_BATCH, st.booleans(), st.booleans()),
        min_size=1, max_size=5,
    )
)
def test_replicate_converges_under_random_cadence_and_replays(spark, steps):
    """Random source batches, random sync cadence, random CRASHED syncs
    (a crash injected into the commit rename itself — the only crash
    point the atomic-cursor protocol has): the replica must converge
    after a final sync no matter the interleaving.  The rewind-a-
    sidecar-cursor variant this replaced is the shape hypothesis
    proved non-convergent (net changes cancelling over the stale range
    never reach the replica) — the fix moved the cursor into the
    commit, making that crash point unrepresentable."""
    from lens_sds_batch_spark.plans.merge import replicate_changes

    d = tempfile.mkdtemp(prefix="repl_prop_")
    src, dst = d + "/src", d + "/dst"
    first = True
    for batch, do_sync, do_crash in steps:
        if first:
            _mk(spark, src, batch, num_buckets=2)
            first = False
        else:
            _merge(spark, src, batch)
        if do_sync:
            if do_crash:
                with _crash_next_commit():
                    try:
                        replicate_changes(spark, src, dst)
                    except IOError:
                        pass  # the injected crash: sync atomically lost
            else:
                replicate_changes(spark, src, dst)
    replicate_changes(spark, src, dst)
    src_df = read_merged_table(spark, src)
    dst_df = read_merged_table(spark, dst)
    if src_df is None:
        assert dst_df is None or dst_df.count() == 0
    else:
        assert _rows(dst_df.select("k", "pri", "v", "dead")) == _rows(
            src_df.select("k", "pri", "v", "dead")
        )


def test_replicate_concurrent_with_live_writer(spark, tmp_path):
    """Replication races a LIVE source writer: the reader takes no
    lease (it resolves a consistent manifest and reads only immutable
    generations), so every mid-flight sync sees exactly some committed
    prefix, and a final drain converges the replica.  The writer-side
    precedent is the r13 lease stress; this is the reader-side twin."""
    import threading
    import time as _time

    from lens_sds_batch_spark.plans.merge import replicate_changes

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk(spark, src, [("a", 0, "x", False)], num_buckets=4)

    errors: list = []
    done = threading.Event()

    def writer():
        try:
            for i in range(1, 9):
                _merge(spark, src, [
                    (f"w{i}", i, f"v{i}", False),
                    ("a", i, f"a{i}", False),
                    (f"w{i - 1}", i, None, i % 3 == 0),
                ])
                _time.sleep(0.05)
        except Exception as e:  # surfaced below — a bare thread death
            errors.append(e)   # would silently pass the test
        finally:
            done.set()

    t = threading.Thread(target=writer)
    t.start()
    syncs = 0
    try:
        while not done.is_set():
            r = replicate_changes(spark, src, dst)
            assert r["to_seq"] >= r["from_seq"]
            syncs += 1
    finally:
        t.join()
    assert not errors, errors
    assert syncs >= 2  # the race actually happened
    replicate_changes(spark, src, dst)  # drain
    src_df = read_merged_table(spark, src).select("k", "pri", "v")
    dst_df = read_merged_table(spark, dst).select("k", "pri", "v")
    assert _rows(dst_df) == _rows(src_df)


# ---------------------------------------------------------------------------
# refusals
# ---------------------------------------------------------------------------


def test_refusals(spark, tmp_path):
    # a plain parquet dir is not a merge target
    plain = str(tmp_path / "plain")
    spark.createDataFrame([("a", 1, "x", False)], SCHEMA).write.parquet(plain)
    with pytest.raises(ValueError, match="not a manifest-commit target"):
        read_changes(spark, plain, from_seq=0)

    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [("a", 1, "x", False)])
    r2 = _merge(spark, tgt, [("b", 1, "y", False)])
    # backwards bounds
    with pytest.raises(ValueError, match="feed runs forward"):
        read_changes(spark, tgt, from_seq=r2["seq"], to_seq=r1["seq"])
    # beyond the newest commit (either bound)
    with pytest.raises(ValueError, match="beyond the latest commit"):
        read_changes(spark, tgt, from_seq=99)
    with pytest.raises(ValueError, match="beyond the latest commit"):
        read_changes(spark, tgt, from_seq=0, to_seq=99)


def test_vacuumed_from_seq_raises_loudly(spark, tmp_path):
    tgt = str(tmp_path / "t")
    r1 = _mk(spark, tgt, [("a", 1, "x", False)])
    _merge(spark, tgt, [("a", 2, "x2", False)])
    vacuum_merged_table(spark, tgt, grace_sec=0.0)
    with pytest.raises(ValueError, match="no manifest at or below"):
        read_changes(spark, tgt, from_seq=r1["seq"])


def test_reserved_output_name_collision_refused(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _merge(
        spark, tgt, [("a", 1, "x", False)],
        schema="k string, pri int, _change_type string, dead boolean",
        num_buckets=4, protocol="manifest",
    )
    with pytest.raises(ValueError, match="_change_type"):
        read_changes(spark, tgt, from_seq=0)


# ---------------------------------------------------------------------------
# hypothesis: the reconstruction law over random lifecycles
# ---------------------------------------------------------------------------

_KEYS = ["k1", "k2", "k3", "k4"]
_BATCH = st.lists(
    st.tuples(
        st.sampled_from(_KEYS),
        st.integers(min_value=0, max_value=9),
        st.sampled_from(["v1", "v2", "v3"]),
        st.booleans(),
    ),
    min_size=1, max_size=4,
    unique_by=lambda r: (r[0], r[1]),
)
_STEP = st.one_of(
    st.tuples(st.just("merge"), _BATCH),
    st.tuples(st.just("add"), st.just(None)),
    st.tuples(st.just("maintain"), st.just(None)),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(first=_BATCH, steps=st.lists(_STEP, min_size=1, max_size=4))
def test_change_feed_matches_model_diff_over_random_lifecycles(
    spark, first, steps
):
    """For EVERY recorded snapshot pair (i <= j) of a random
    merge/evolve-add/maintenance interleaving, read_changes(i, j) must
    equal the dict-model diff rendered in snapshot j's schema."""
    from lens_sds_batch_spark.plans.merge import maintain_merged_table

    d = tempfile.mkdtemp(prefix="cdf_prop_")
    tgt = d + "/state"
    added: list[str] = []
    state: dict = {}

    def extras_for(k, pri):
        return {c: f"{c}:{k}:{pri}" for c in added}

    def model_merge(batch):
        best: dict = {}
        for k, pri, v, dead in batch:
            cur = best.get(k)
            if cur is None or pri > cur[0]:
                best[k] = (pri, v, dead)
        for k, (pri, v, dead) in best.items():
            cur = state.get(k)
            if cur is not None and pri <= cur[0]:
                continue
            if dead:
                state.pop(k, None)
            else:
                state[k] = (pri, v, extras_for(k, pri))

    def spark_merge(batch, **kw):
        schema = SCHEMA + "".join(f", {c} string" for c in added)
        rows = [
            (k, pri, v, dead, *[extras_for(k, pri)[c] for c in added])
            for k, pri, v, dead in batch
        ]
        return merge_into(
            spark, tgt, spark.createDataFrame(rows, schema),
            keys=["k"], order_cols=["pri"], is_delete=F.col("dead"), **kw,
        )

    snaps = []  # (seq, frozen model state, columns at that seq)

    def snap():
        seq = list_snapshots(spark, tgt)[-1]["seq"]
        frozen = {
            k: (pri, v, dict(extras)) for k, (pri, v, extras) in state.items()
        }
        snaps.append((seq, frozen, list(added)))

    spark_merge(first, num_buckets=2, protocol="manifest")
    model_merge(first)
    snap()
    for op, payload in steps:
        if op == "merge":
            spark_merge(payload)
            model_merge(payload)
        elif op == "add" and len(added) < 2:
            col = f"extra{len(added) + 1}"
            evolve_schema(spark, tgt, add={col: "string"})
            added.append(col)
        elif op == "maintain":
            maintain_merged_table(spark, tgt, grace_sec=1e9)  # keep history
        snap()

    cols_final = ["k", "pri", "v", "dead", *added]

    def render(frozen, cols):
        # model row in snapshot-j's schema; absent extras read NULL
        return {
            k: tuple(
                [pri, v, False]
                + [extras.get(c) for c in cols if c.startswith("extra")]
            )
            for k, (pri, v, extras) in frozen.items()
        }

    for i in range(len(snaps)):
        for j in range(i, len(snaps)):
            seq_i, st_i, _ = snaps[i]
            seq_j, st_j, added_j = snaps[j]
            cols_j = ["k", "pri", "v", "dead", *added_j]
            a = render(st_i, cols_j)
            b = render(st_j, cols_j)
            expected = []
            for k in set(a) | set(b):
                if k in a and k not in b:
                    expected.append((k, *a[k], "delete"))
                elif k in b and k not in a:
                    expected.append((k, *b[k], "insert"))
                elif a[k] != b[k]:
                    expected.append((k, *a[k], "update_preimage"))
                    expected.append((k, *b[k], "update_postimage"))
            got = _got(spark, tgt, seq_i, seq_j, cols_j)
            assert got == _sorted(expected), (
                f"diff {seq_i}->{seq_j}: got {got} expected {_sorted(expected)}"
            )
