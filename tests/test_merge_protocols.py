"""Merge-store hardening: writer lease (r11 verdict #2), the
manifest-commit protocol (r11 verdict #1 — kill-point tested: the table
reads as exactly pre- or post-merge at every write step; it is the only
merge_into store), stale-generation vacuum, and the rebucket migration
op (r11 verdict #3).

The crash states here are a few hand-built ones; every crash point of
every writer is enumerated in tests/test_store_crash_points.py.
Reference semantics anchor: import_clinical_data.clj:239-263 (the store
the commands mutate must never half-apply a batch).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from lens_sds_batch_spark.plans import ivm
from lens_sds_batch_spark.plans import merge as mg
from lens_sds_batch_spark.plans.merge import (
    BUCKET_COL,
    GEN_COL,
    MANIFEST_DIR,
    lookup_merged_keys,
    merge_into,
    read_merged_table,
    rebucket,
    vacuum_merged_table,
)

SCHEMA = "k string, pri int, v string, dead boolean"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _merge(spark, target, rows, **kw):
    return merge_into(
        spark, target, _df(spark, rows), keys=["k"], order_cols=["pri"],
        is_delete=F.col("dead"), **kw,
    )


def _state(spark, target):
    df = read_merged_table(spark, target)
    if df is None:
        return {}
    return {r["k"]: (r["pri"], r["v"]) for r in df.collect()}


def _manifests(target):
    mdir = os.path.join(target, MANIFEST_DIR)
    return sorted(
        n for n in os.listdir(mdir)
        if n.endswith(".json") and not n.startswith(".")
    )


def _gens(target):
    """{bucket_dir: sorted gen dirs} over the on-disk layout."""
    out = {}
    for b in sorted(os.listdir(target)):
        if b.startswith(BUCKET_COL + "="):
            out[b] = sorted(os.listdir(os.path.join(target, b)))
    return out


# ---------------------------------------------------------------------------
# writer lease
# ---------------------------------------------------------------------------


def test_lease_refuses_second_writer_and_stale_takeover(spark, tmp_path):
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=4)
    lease = target + ".__lease"
    assert not os.path.exists(lease)  # released after success

    # a LIVE holder (fresh mtime): second writer must refuse loudly
    with open(lease, "w") as f:
        json.dump({"pid": 999999, "host": "other"}, f)
    with pytest.raises(IOError, match="another writer holds the lease"):
        _merge(spark, target, [("k2", 1, "b", False)])
    assert os.path.exists(lease)  # the refusal must not steal the lease

    # a DEAD holder (mtime past the stale threshold): takeover succeeds
    os.utime(lease, (time.time() - 7200, time.time() - 7200))
    res = _merge(spark, target, [("k2", 1, "b", False)])
    assert res["engine"] == "parquet-manifest"
    assert not os.path.exists(lease)
    assert _state(spark, target) == {"k1": (1, "a"), "k2": (1, "b")}


def test_lease_released_on_merge_failure(spark, tmp_path):
    """A failed merge must release the lease — the remedy for a failure
    is a REPLAY, which a held lease would block."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=4)
    bad = spark.createDataFrame(
        [(1, 1, "a", False)], "k int, pri int, v string, dead boolean"
    )
    with pytest.raises(ValueError, match="key dtype drift"):
        merge_into(
            spark, target, bad, keys=["k"], order_cols=["pri"],
            is_delete=F.col("dead"),
        )
    assert not os.path.exists(target + ".__lease")


def test_rebucket_refused_while_lease_held(spark, tmp_path):
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=4)
    with open(target + ".__lease", "w") as f:
        f.write("{}")
    with pytest.raises(IOError, match="another writer holds the lease"):
        rebucket(spark, target, 8)
    os.remove(target + ".__lease")


def test_end_to_end_delete_to_empty_bucket(spark, tmp_path):
    """Deleting every key of a bucket drops it from the live map, the
    rows stay gone across further merges, and nothing but bucket dirs
    and the manifest dir ever lands in the target dir."""
    target = str(tmp_path / "t")
    rows = [(f"k{i}", 1, "v", False) for i in range(12)]
    _merge(spark, target, rows, num_buckets=1)  # one bucket holds all keys
    _merge(spark, target, [(f"k{i}", 2, "v", True) for i in range(12)])
    assert _state(spark, target) == {}
    assert read_merged_table(spark, target) is None
    assert all(
        n == MANIFEST_DIR or n.startswith(BUCKET_COL + "=")
        for n in os.listdir(target)
    )
    _merge(spark, target, [("k1", 3, "back", False)])
    assert _state(spark, target) == {"k1": (3, "back")}


# ---------------------------------------------------------------------------
# manifest-commit flavor
# ---------------------------------------------------------------------------


def test_manifest_merge_end_to_end(spark, tmp_path):
    target = str(tmp_path / "t")
    r1 = _merge(
        spark, target, [("k1", 1, "a", False), ("k2", 1, "b", False)],
        num_buckets=4, protocol="manifest",
    )
    assert r1["engine"] == "parquet-manifest" and r1["seq"] == 1
    # autodetected on later calls — no protocol/num_buckets re-passed
    r2 = _merge(spark, target, [("k2", 2, "b2", False), ("k3", 2, "c", False)])
    r3 = _merge(spark, target, [("k1", 3, "x", True)])  # delete k1
    assert (r2["engine"], r3["engine"]) == ("parquet-manifest", "parquet-manifest")
    assert (r2["seq"], r3["seq"]) == (2, 3)
    assert _state(spark, target) == {"k2": (2, "b2"), "k3": (2, "c")}
    # older rows must never resurface (older-priority replay is a no-op)
    _merge(spark, target, [("k2", 1, "stale", False)])
    assert _state(spark, target)["k2"] == (2, "b2")
    # an empty batch commits nothing
    seq_before = len(_manifests(target))
    r5 = _merge(spark, target, [])
    assert r5["touched_rows"] == 0 and len(_manifests(target)) == seq_before


def test_manifest_guards(spark, tmp_path):
    # no num_buckets on a fresh target: one bucket
    t1 = str(tmp_path / "no_n")
    r1 = _merge(spark, t1, [("k1", 1, "a", False)], protocol="manifest")
    assert (r1["engine"], r1["num_buckets"], r1["seq"]) == ("parquet-manifest", 1, 1)
    assert _gens(t1).keys() == {f"{BUCKET_COL}=0"}

    t2 = str(tmp_path / "existing_plain")
    _df(spark, [("k1", 1, "a", False)]).write.parquet(t2)
    for kw in ({"protocol": "manifest", "num_buckets": 4}, {}):
        with pytest.raises(ValueError, match="fresh target"):
            _merge(spark, t2, [("k2", 1, "b", False)], **kw)

    t4 = str(tmp_path / "manifest_flavor")
    _merge(spark, t4, [("k1", 1, "a", False)], num_buckets=4, protocol="manifest")
    with pytest.raises(ValueError, match="protocol='rename' was removed"):
        _merge(spark, t4, [("k2", 1, "b", False)], protocol="rename")
    with pytest.raises(ValueError, match="has 4 buckets"):
        _merge(spark, t4, [("k2", 1, "b", False)], num_buckets=8)
    with pytest.raises(ValueError, match="bucketed on keys"):
        merge_into(
            spark, t4, _df(spark, [("k2", 1, "b", False)]),
            keys=["v"], order_cols=["pri"], is_delete=F.col("dead"),
        )
    with pytest.raises(ValueError, match="protocol must be"):
        _merge(spark, t4, [("k2", 1, "b", False)], protocol="bogus")


def test_pinless_manifest_refused(spark, tmp_path):
    """A committed manifest without its ``columns`` schema pin is
    refused by every reader and writer, naming the missing pin — there
    is no pin-less fallback to guess the schema from the files."""
    from lens_sds_batch_spark.plans.merge import evolve_schema, read_changes

    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=2, protocol="manifest")
    _merge(spark, target, [("k2", 1, "b", False)])
    for name in _manifests(target):
        path = os.path.join(target, MANIFEST_DIR, name)
        with open(path) as f:
            man = json.load(f)
        del man["columns"]
        with open(path, "w") as f:
            json.dump(man, f)
        # the local FS checksums what it wrote; drop the stale sidecar
        crc = os.path.join(target, MANIFEST_DIR, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    refused = "no schema pin \\('columns'\\): the table predates the schema pin"
    with pytest.raises(ValueError, match=refused):
        _merge(spark, target, [("k3", 1, "c", False)])
    with pytest.raises(ValueError, match=refused):
        read_merged_table(spark, target)
    with pytest.raises(ValueError, match=refused):
        read_changes(spark, target, from_seq=1)
    with pytest.raises(ValueError, match=refused):
        evolve_schema(spark, target, add={"extra": "string"})


def test_manifest_kill_points(spark, tmp_path):
    """Walk every write step of a manifest merge as a hand-built crash
    state and pin: the table reads as EXACTLY pre-merge before the
    manifest rename and exactly post-merge after; the replay converges;
    vacuum collects the strandings."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False), ("k2", 1, "b", False)],
           num_buckets=2, protocol="manifest")
    pre = _state(spark, target)
    pre_manifests = _manifests(target)
    batch = [("k1", 2, "a2", False), ("k9", 2, "z", False)]

    # KP1 — crash between the tmp write and gen staging: a stale
    # <target>.__tmp with bucket dirs.  Reads pre-merge; replay wins.
    tmp = target + ".__tmp"
    os.makedirs(os.path.join(tmp, f"{BUCKET_COL}=0"))
    _df(spark, [("junk", 9, "j", False)]).write.mode("overwrite").parquet(
        os.path.join(tmp, f"{BUCKET_COL}=0", "junk")
    )
    assert _state(spark, target) == pre
    _merge(spark, target, batch)  # replay: stale tmp deleted first
    post = _state(spark, target)
    assert post == {"k1": (2, "a2"), "k2": (1, "b"), "k9": (2, "z")}
    assert not os.path.exists(tmp)

    # KP2 — crash after gen dirs staged, before the manifest commit:
    # an unreferenced generation + a .tmp manifest.  Still reads
    # post-merge state of the COMMITTED manifest; vacuum collects both.
    some_bucket = next(iter(_gens(target)))
    live_gen = _gens(target)[some_bucket][-1]
    orphan = os.path.join(target, some_bucket, f"{GEN_COL}=gdeadbeef0000")
    shutil.copytree(os.path.join(target, some_bucket, live_gen), orphan)
    with open(os.path.join(target, MANIFEST_DIR, ".tmp-gdeadbeef0000.json"), "w") as f:
        f.write("{\"torn\":")  # even torn: never resolved, never parsed
    assert _state(spark, target) == post
    gc = vacuum_merged_table(spark, target, grace_sec=0.0)
    assert gc["gens_deleted"] >= 1 and not os.path.exists(orphan)
    assert not os.path.exists(
        os.path.join(target, MANIFEST_DIR, ".tmp-gdeadbeef0000.json")
    )
    assert _state(spark, target) == post

    # KP3 — crash right after the manifest rename (commit landed, tmp
    # cleanup lost): reads post-merge; the next merge just proceeds.
    os.makedirs(tmp, exist_ok=True)
    _merge(spark, target, [("k9", 3, "z2", False)])
    assert _state(spark, target)["k9"] == (3, "z2")

    # throughout: the committed sequence only ever advanced
    def _seq(name):
        return int(name[: -len(".json")].split("-", 1)[0])

    assert _seq(_manifests(target)[-1]) > _seq(pre_manifests[-1])


def test_manifest_vacuum_keeps_live_generations(spark, tmp_path):
    target = str(tmp_path / "t")
    _merge(spark, target, [(f"k{i}", 1, "v", False) for i in range(20)],
           num_buckets=2, protocol="manifest")
    _merge(spark, target, [(f"k{i}", 2, "w", False) for i in range(10)])
    _merge(spark, target, [("k0", 3, "x", True)])
    state = _state(spark, target)
    # superseded generations + manifests exist before the vacuum
    assert any(len(gens) > 1 for gens in _gens(target).values())
    assert len(_manifests(target)) == 4  # seq 0..3
    gc = vacuum_merged_table(spark, target, grace_sec=0.0)
    assert gc["gens_deleted"] >= 1 and gc["manifests_deleted"] >= 1
    assert all(len(gens) == 1 for gens in _gens(target).values())
    assert len(_manifests(target)) == 1  # only the live manifest remains
    assert _state(spark, target) == state  # state untouched
    # grace shields fresh strandings: nothing young is collected
    _merge(spark, target, [("k1", 4, "y", False)])
    gc2 = vacuum_merged_table(spark, target, grace_sec=3600.0)
    assert gc2 == {"gens_deleted": 0, "manifests_deleted": 0}

    t2 = str(tmp_path / "plain_parquet")
    _df(spark, [("k1", 1, "a", False)]).write.parquet(t2)
    with pytest.raises(ValueError, match="not a manifest-commit target"):
        vacuum_merged_table(spark, t2)


def test_manifest_delete_to_empty_and_reinsert(spark, tmp_path):
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=2,
           protocol="manifest")
    _merge(spark, target, [("k1", 2, "a", True)])
    assert read_merged_table(spark, target) is None  # all-deleted state
    _merge(spark, target, [("k1", 3, "back", False)])
    assert _state(spark, target) == {"k1": (3, "back")}


# ---------------------------------------------------------------------------
# rebucket (r11 verdict #3)
# ---------------------------------------------------------------------------


def test_rebucket_manifest_flavor(spark, tmp_path):
    target = str(tmp_path / "t")
    rows = [(f"k{i}", 1, "v", False) for i in range(50)]
    _merge(spark, target, rows, num_buckets=4, protocol="manifest")
    before = _state(spark, target)

    res = rebucket(spark, target, 8)
    assert res["engine"] == "parquet-manifest" and res["num_buckets"] == 8
    assert res["rows"] == len(before)
    assert _state(spark, target) == before

    assert not os.path.exists(target + ".__lease")

    # post-migration merges autodetect the new space and still prune
    r = _merge(spark, target, [("k1", 2, "x", False)])
    assert r["engine"] == "parquet-manifest" and r["num_buckets"] == 8
    assert len(r["touched_buckets"]) == 1 and r["touched_buckets"][0] < 8
    assert _state(spark, target)["k1"] == (2, "x")
    # the pre-rebucket generations are unreferenced now: vacuum them
    gc = vacuum_merged_table(spark, target, grace_sec=0.0)
    assert gc["gens_deleted"] >= 1
    assert _state(spark, target)["k1"] == (2, "x")

    # caller-passed num_buckets now validates against the NEW layout
    with pytest.raises(ValueError, match="has 8 buckets"):
        _merge(spark, target, [("k1", 4, "y", False)], num_buckets=4)

    with pytest.raises(ValueError, match="no bucketed layout"):
        rebucket(spark, str(tmp_path / "missing"), 8)
    with pytest.raises(ValueError, match=">= 1"):
        rebucket(spark, target, 0)


def test_rebucket_empty_tables(spark, tmp_path):
    # empty live map (everything deleted) — the move is pure metadata
    t2 = str(tmp_path / "t2")
    _merge(spark, t2, [("k1", 1, "a", False)], num_buckets=4, protocol="manifest")
    _merge(spark, t2, [("k1", 2, "a", True)])
    res2 = rebucket(spark, t2, 2)
    assert res2 == {"engine": "parquet-manifest", "rows": 0, "num_buckets": 2,
                    "seq": 3}
    # r14 regression (found by the read_changes lifecycle property):
    # the empty-table metadata commit must CARRY the schema pin — a
    # drifted batch must still be refused after the rebucket, not
    # silently accepted because the pin fell off the manifest
    with pytest.raises(ValueError, match="schema drift"):
        merge_into(
            spark, t2,
            spark.createDataFrame([("k9", 9)], "k string, pri int"),
            keys=["k"], order_cols=["pri"], is_delete=F.lit(False),
        )
    r2 = _merge(spark, t2, [("k1", 3, "b", False)])
    assert r2["num_buckets"] == 2 and _state(spark, t2) == {"k1": (3, "b")}


# ---------------------------------------------------------------------------
# read_merged_table resolver
# ---------------------------------------------------------------------------


def test_read_merged_table_all_layouts(spark, tmp_path):
    """The resolver over every path shape it can meet: missing and
    empty paths read as None (a point lookup too); a directory that is
    not a manifest table (a plain parquet write, or bucket dirs without
    a manifest) is refused loudly by the resolver and by merge_into
    alike, never read or overwritten as if it were merged state."""
    assert read_merged_table(spark, str(tmp_path / "missing")) is None
    probe = spark.createDataFrame([("k1",)], "k string")
    assert lookup_merged_keys(spark, str(tmp_path / "missing"), probe) is None
    os.makedirs(str(tmp_path / "empty"))
    assert read_merged_table(spark, str(tmp_path / "empty")) is None

    plain = str(tmp_path / "plain")
    _df(spark, [("k1", 1, "a", False)]).write.parquet(plain)
    bare = str(tmp_path / "bare_buckets")
    _df(spark, [("k1", 1, "a", False)]).write.parquet(f"{bare}/{BUCKET_COL}=0")
    for path in (plain, bare):
        with pytest.raises(ValueError, match="not a manifest-commit target"):
            read_merged_table(spark, path)
        with pytest.raises(ValueError, match="not a manifest-commit target"):
            _merge(spark, path, [("k2", 1, "b", False)], num_buckets=2)
    # the refused data is untouched
    assert spark.read.parquet(plain).count() == 1

    man = str(tmp_path / "man")
    _merge(spark, man, [("k1", 1, "a", False)], num_buckets=2, protocol="manifest")
    df = read_merged_table(spark, man)
    assert BUCKET_COL in df.columns and GEN_COL not in df.columns
    assert _state(spark, man) == {"k1": (1, "a")}


def test_manifest_listed_gen_missing_raises(spark, tmp_path):
    """A generation the live manifest references but that is gone from
    disk (vacuum bug / tampering) must raise loudly at read time —
    silently returning partial state would be data loss dressed as
    success."""
    target = str(tmp_path / "t")
    _merge(spark, target, [(f"k{i}", 1, "v", False) for i in range(20)],
           num_buckets=4, protocol="manifest")
    bucket = next(iter(_gens(target)))
    gen = _gens(target)[bucket][0]
    shutil.rmtree(os.path.join(target, bucket, gen))
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        read_merged_table(spark, target).collect()


def test_manifest_seq_claim_refuses_double_commit(spark, tmp_path):
    """The commit filename is the BARE seq, deliberately: a slow writer
    resuming after a stale-lease takeover must FAIL its commit (seq
    already claimed) instead of landing a second same-seq manifest
    under a different name that could silently shadow the other batch."""
    from lens_sds_batch_spark.plans.merge import _commit_manifest, _open_table

    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=2,
           protocol="manifest")
    pre = _state(spark, target)
    seq = int(_manifests(target)[-1][: -len(".json")].split("-", 1)[0])
    man = {"num_buckets": 2, "keys": ["k"], "key_types": {"k": "string"},
           "buckets": {}, "seq": seq, "gen": "gstraggler"}
    with pytest.raises(IOError, match="seq already claimed"):
        _commit_manifest(_open_table(spark, target), seq, "gstraggler", man)
    assert _state(spark, target) == pre  # the claimed manifest stands


def test_manifest_sink_with_interleaved_vacuum(spark, tmp_path):
    """The production cadence: a stream of micro-batches through the
    manifest merge with a grace-0 vacuum every few commits.  Pins that
    (a) vacuum in the loop never touches live state, (b) retained
    generations stay BOUNDED (<= live buckets + the commits since the
    last vacuum), and (c) the final state equals one LWW over the
    union — i.e. the GC cadence is invisible to semantics."""
    from lens_sds_batch_spark.plans.merge import apply_lww

    target = str(tmp_path / "t")
    all_rows = []
    for i in range(12):
        batch = [(f"k{(i * 7 + j) % 30}", i, f"v{i}", (i * 7 + j) % 11 == 0)
                 for j in range(8)]
        all_rows += batch
        _merge(spark, target, batch,
               num_buckets=4 if i == 0 else None,
               protocol="manifest" if i == 0 else None)
        if i % 4 == 3:
            vacuum_merged_table(spark, target, grace_sec=0.0)
            gens_total = sum(len(g) for g in _gens(target).values())
            assert gens_total <= 4  # only live generations survive
    want = {
        (r["k"], r["pri"], r["v"])
        for r in apply_lww(
            _df(spark, all_rows).withColumn(
                "__h", F.xxhash64("k", "pri", "v", "dead")
            ),
            keys=["k"], order_cols=[F.col("pri"), F.col("__h")],
            is_delete=F.col("dead"),
        ).collect()
    }
    got = {(k, p, v) for k, (p, v) in _state(spark, target).items()}
    assert got == want


def test_suggest_num_buckets_both_flavors(spark, tmp_path):
    """The rebucket advisor: live-bytes / target-bucket-size rounded to
    a power of two, with 2x hysteresis, counting ONLY the live
    generations (superseded gens must not inflate the estimate) — on a
    target laid out from num_buckets alone and on one that also passed
    protocol='manifest'."""
    from lens_sds_batch_spark.plans.merge import suggest_num_buckets

    rows = [(f"k{i}", 1, "v" * 50, False) for i in range(400)]
    t1 = str(tmp_path / "default")
    _merge(spark, t1, rows, num_buckets=4)
    s = suggest_num_buckets(spark, t1, target_bucket_bytes=1)
    # tiny target size -> suggested far above 4 -> recommended
    assert s["num_buckets"] == 4 and s["suggested"] >= 8
    assert s["rebucket_recommended"] and s["live_bytes"] > 0
    # huge target size -> suggested 1 << 4/2 -> recommended downward
    s2 = suggest_num_buckets(spark, t1, target_bucket_bytes=1 << 40)
    assert s2["suggested"] == 1 and s2["rebucket_recommended"]

    t2 = str(tmp_path / "man")
    _merge(spark, t2, rows, num_buckets=4, protocol="manifest")
    base = suggest_num_buckets(spark, t2, target_bucket_bytes=1)["live_bytes"]
    # superseding every bucket doubles on-disk bytes but NOT live bytes
    _merge(spark, t2, [(f"k{i}", 2, "w" * 50, False) for i in range(400)])
    after = suggest_num_buckets(spark, t2, target_bucket_bytes=1)["live_bytes"]
    assert after < base * 1.5  # counts live gens, not the full history

    with pytest.raises(ValueError, match="no bucketed layout"):
        suggest_num_buckets(spark, str(tmp_path / "missing"))
    plain = str(tmp_path / "plain")
    _df(spark, rows[:1]).write.parquet(plain)
    with pytest.raises(ValueError, match="no bucketed layout"):
        suggest_num_buckets(spark, plain)


# ---------------------------------------------------------------------------
# snapshot (time-travel) reads — r12: the manifest protocol's natural
# generation retention exposed as Delta versionAsOf semantics
# ---------------------------------------------------------------------------

def test_snapshot_reads_time_travel(spark, tmp_path):
    from lens_sds_batch_spark.plans.merge import list_snapshots

    target = str(tmp_path / "t")
    _merge(
        spark, target, [("k1", 1, "a", False), ("k2", 1, "b", False)],
        num_buckets=4, protocol="manifest",
    )
    _merge(spark, target, [("k2", 2, "b2", False), ("k3", 2, "c", False)])
    _merge(spark, target, [("k1", 3, "x", True)])  # delete k1

    assert [s["seq"] for s in list_snapshots(spark, target)] == [0, 1, 2, 3]

    def at(seq):
        df = read_merged_table(spark, target, as_of_seq=seq)
        return {} if df is None else {r["k"]: (r["pri"], r["v"]) for r in df.collect()}

    assert at(0) == {}  # the empty init commit
    assert at(1) == {"k1": (1, "a"), "k2": (1, "b")}
    assert at(2) == {"k1": (1, "a"), "k2": (2, "b2"), "k3": (2, "c")}
    assert at(3) == _state(spark, target)
    # beyond the newest commit RAISES (ADVICE r12, Delta versionAsOf
    # semantics) — a typo'd seq must not silently read latest
    with pytest.raises(ValueError, match="beyond the latest commit"):
        at(99)
    with pytest.raises(ValueError, match="predates"):
        read_merged_table(spark, target, as_of_seq=-1)

    # a path that is not a merge target has no history — both surfaces
    # refuse
    t2 = str(tmp_path / "plain")
    _df(spark, [("k1", 1, "a", False)]).write.parquet(t2)
    with pytest.raises(ValueError, match="not a manifest-commit target"):
        read_merged_table(spark, t2, as_of_seq=1)
    with pytest.raises(ValueError, match="not a manifest-commit target"):
        list_snapshots(spark, t2)


def test_snapshot_after_vacuum_raises_loudly(spark, tmp_path):
    from lens_sds_batch_spark.plans.merge import list_snapshots

    target = str(tmp_path / "t")
    _merge(
        spark, target, [("k1", 1, "a", False)],
        num_buckets=4, protocol="manifest",
    )
    _merge(spark, target, [("k1", 2, "b", False)])
    vacuum_merged_table(spark, target, grace_sec=0)
    # superseded manifests collected -> only the live snapshot remains
    assert [s["seq"] for s in list_snapshots(spark, target)] == [2]
    with pytest.raises(ValueError, match="vacuumed"):
        read_merged_table(spark, target, as_of_seq=1)
    assert {r["k"]: r["v"] for r in
            read_merged_table(spark, target, as_of_seq=2).collect()} == {"k1": "b"}


def test_compact_merged_table(spark, tmp_path):
    """r13 (r12 verdict #4): a generation inherits the writing batch's
    parallelism — compacting fat-file-count generations under the lease
    via the normal commit path must shrink file counts, keep state
    byte-identical, advance seq once, and leave the old generations as
    vacuum fodder."""
    from lens_sds_batch_spark.plans.merge import compact_merged_table

    target = str(tmp_path / "t")
    rows = [(f"k{i}", 1, "v" * 30, False) for i in range(400)]
    # the writing batch's parallelism fans each bucket's generation
    # into many small part files — exactly the shape compaction fixes;
    # AQE's partition coalescing would undo the craft at toy size, so
    # pin it off for the write (real clusters produce this shape from
    # genuine width, not from a conf)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, None)
    spark.conf.set(coalesce_key, "false")
    try:
        _merge(spark, target, rows, num_buckets=2, protocol="manifest")
    finally:
        spark.conf.set(coalesce_key, prev if prev is not None else "true")
    before_state = _state(spark, target)
    gens0 = _gens(target)
    n_files0 = sum(
        len([f for f in os.listdir(os.path.join(target, b, g))
             if not f.startswith(("_", "."))])
        for b, gs in gens0.items() for g in gs
    )
    assert n_files0 > 2, "craft requires multi-file generations"

    res = compact_merged_table(spark, target, target_file_bytes=1 << 30)
    assert res["engine"] == "parquet-manifest"
    assert sorted(res["compacted_buckets"]) == ["0", "1"]
    assert res["files_before"] == n_files0 and res["files_after"] == 2
    assert _state(spark, target) == before_state  # state byte-identical

    # one file per live generation now
    from lens_sds_batch_spark.plans.merge import read_merged_table as _r
    for b in ("__bucket=0", "__bucket=1"):
        live_gens = _gens(target)[b]
        assert len(live_gens) == 2  # old gen (vacuum fodder) + compacted
    vac = vacuum_merged_table(spark, target, grace_sec=0.0)
    assert vac["gens_deleted"] == 2  # the two superseded fat generations
    assert _state(spark, target) == before_state

    # idempotent no-op once compacted: no new commit, empty bucket list
    res2 = compact_merged_table(spark, target, target_file_bytes=1 << 30)
    assert res2["compacted_buckets"] == [] and res2["seq"] == res["seq"]
    assert res2["files_before"] == res2["files_after"] == 2

    # post-compaction merges keep working (protocol unchanged)
    _merge(spark, target, [("k1", 2, "upd", False)])
    assert _state(spark, target)["k1"] == (2, "upd")

    # a path that is not a merge target is refused
    t2 = str(tmp_path / "plain")
    _df(spark, rows[:10]).write.parquet(t2)
    with pytest.raises(ValueError, match="not a manifest-commit target"):
        compact_merged_table(spark, t2)


def test_compact_respects_target_file_bytes(spark, tmp_path):
    """A target size smaller than the bucket's bytes must leave MORE
    than one file (ceil(bytes/target)) — compaction is sized, not
    blind single-file squashing."""
    from lens_sds_batch_spark.plans.merge import compact_merged_table

    target = str(tmp_path / "t")
    rows = [(f"k{i}", 1, "v" * 200, False) for i in range(2000)]
    _merge(spark, target, rows, num_buckets=1, protocol="manifest")
    before_state = _state(spark, target)
    gdir_parent = os.path.join(target, "__bucket=0")
    gen0 = os.listdir(gdir_parent)[0]
    nbytes = sum(
        os.path.getsize(os.path.join(gdir_parent, gen0, f))
        for f in os.listdir(os.path.join(gdir_parent, gen0))
        if not f.startswith(("_", "."))
    )
    res = compact_merged_table(spark, target, target_file_bytes=nbytes // 3 + 1)
    if res["compacted_buckets"]:  # only when the gen was fatter than 3 files
        assert 1 < res["files_after"] <= 4
    assert _state(spark, target) == before_state


def test_maintain_merged_table_composition(spark, tmp_path):
    """r13: the one-call maintenance window — advisor-gated rebucket,
    sized compaction, then vacuum; state unchanged throughout; a
    fitting+sized+clean manifest table costs no Spark job (all three
    steps report no-ops)."""
    from lens_sds_batch_spark.plans.merge import maintain_merged_table

    target = str(tmp_path / "t")
    _merge(spark, target, [(f"k{i}", 1, "v" * 30, False) for i in range(200)],
           num_buckets=2, protocol="manifest")
    _merge(spark, target, [("k1", 2, "upd", False)])  # supersede a gen
    before = _state(spark, target)
    res = maintain_merged_table(
        spark, target, target_bucket_bytes=1 << 40,  # layout "fits"
        target_file_bytes=1 << 30, grace_sec=0.0,
    )
    assert res["rebucket"]["rebucketed"] in (False, True)
    assert res["compact"]["engine"] == "parquet-manifest"
    assert res["vacuum"]["gens_deleted"] >= 1  # the superseded gen
    assert _state(spark, target) == before

    # idempotent second pass: everything reports a no-op
    res2 = maintain_merged_table(
        spark, target, target_bucket_bytes=1 << 40,
        target_file_bytes=1 << 30, grace_sec=0.0,
    )
    assert res2["rebucket"]["rebucketed"] is False
    assert res2["compact"]["compacted_buckets"] == []
    assert res2["vacuum"] == {"gens_deleted": 0, "manifests_deleted": 0}
    assert _state(spark, target) == before

    # a default (one-bucket) target runs every phase too: N=1 already
    # fits any size (no migration), one file needs no compaction, and
    # the young superseded manifest is shielded by the default grace
    t2 = str(tmp_path / "one_bucket")
    _merge(spark, t2, [("k1", 1, "a", False)])
    r3 = maintain_merged_table(spark, t2, target_bucket_bytes=1 << 40)
    assert r3["rebucket"]["rebucketed"] is False
    assert r3["compact"]["compacted_buckets"] == []
    assert r3["vacuum"] == {"gens_deleted": 0, "manifests_deleted": 0}
    assert _state(spark, t2) == {"k1": (1, "a")}

    # a path that is not a merge target is refused by the window
    t3 = str(tmp_path / "plain")
    _df(spark, [("k1", 1, "a", False)]).write.parquet(t3)
    with pytest.raises(ValueError, match="no bucketed layout"):
        maintain_merged_table(spark, t3)


def test_read_raises_on_tampered_table_instead_of_empty(spark, tmp_path):
    """r14 (ADVICE r13 #1): a read that fails for a non-empty reason
    must raise loudly, never read as an empty table.  Craft the
    failure: a TAMPERED extra file in a live generation whose column
    type conflicts with the pinned schema (v: string in the pin, double
    in the intruder).  Only a manifest with no live bucket reads as
    None."""
    import os

    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.utils import AnalysisException

    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=1)
    bucket = f"{BUCKET_COL}=0"
    gen_dir = os.path.join(target, bucket, _gens(target)[bucket][0])
    spark.createDataFrame(
        [("kX", 9, 1.5)], "k string, pri int, v double"
    ).coalesce(1).write.mode("append").parquet(str(tmp_path / "intruder"))
    part = next(
        f for f in os.listdir(str(tmp_path / "intruder")) if f.endswith(".parquet")
    )
    os.rename(
        str(tmp_path / "intruder" / part), f"{gen_dir}/tampered.parquet"
    )
    with pytest.raises(
        (AnalysisException, Py4JJavaError), match="MISMATCH|SCHEMA|MERGE"
    ):
        df = read_merged_table(spark, target)
        assert df is not None, "tampered table silently read as empty"
        df.collect()  # analysis may be lazy — force it

    # the genuinely-empty case still reads as None: a table whose only
    # key was tombstoned away
    t2 = str(tmp_path / "empty")
    _merge(spark, t2, [("k1", 1, "a", False)], num_buckets=1)
    _merge(spark, t2, [("k1", 2, "a", True)])  # delete the only key
    assert read_merged_table(spark, t2) is None


def test_compact_takes_the_writer_lease(spark, tmp_path):
    from lens_sds_batch_spark.plans.merge import compact_merged_table

    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)],
           num_buckets=2, protocol="manifest")
    lease = target + ".__lease"
    with open(lease, "w") as f:
        f.write("{}")
    try:
        with pytest.raises(IOError, match="another writer holds the lease"):
            compact_merged_table(spark, target)
    finally:
        os.remove(lease)


def test_maybe_rebucket_detect_then_migrate(spark, tmp_path):
    """The detect→migrate composition: no-op (no Spark job) when the
    layout fits, full rebucket to the suggested count when it doesn't,
    state byte-identical either way."""
    from lens_sds_batch_spark.plans.merge import maybe_rebucket

    rows = [(f"k{i}", 1, "v" * 50, False) for i in range(400)]
    target = str(tmp_path / "t")
    _merge(spark, target, rows, num_buckets=4, protocol="manifest")
    before = _state(spark, target)

    # layout fits (suggested == 4 needs bytes/4 per bucket): pick a
    # target size that lands suggested at 4 -> inside hysteresis -> no-op
    from lens_sds_batch_spark.plans.merge import suggest_num_buckets
    live = suggest_num_buckets(spark, target, target_bucket_bytes=1)["live_bytes"]
    r = maybe_rebucket(spark, target, target_bucket_bytes=max(1, live // 4))
    assert r["rebucketed"] is False and "migration" not in r
    assert _state(spark, target) == before

    # layout too coarse: tiny bucket-size target forces an upward migration
    r2 = maybe_rebucket(spark, target, target_bucket_bytes=max(1, live // 64))
    assert r2["rebucketed"] is True and r2["migration"]["num_buckets"] == r2["suggested"]
    assert r2["suggested"] >= 8
    assert _state(spark, target) == before
    # idempotent no-op once the layout fits: recompute the fit from the
    # POST-migration live bytes (at this toy size the 64-file layout
    # carries real per-file parquet overhead, so the pre-migration byte
    # count would re-recommend — a tiny-data artifact, not a contract)
    live2 = suggest_num_buckets(spark, target, target_bucket_bytes=1)["live_bytes"]
    r3 = maybe_rebucket(
        spark, target, target_bucket_bytes=max(1, live2 // r2["suggested"])
    )
    assert r3["rebucketed"] is False


def test_concurrent_writers_lease_serializes(spark, tmp_path):
    """Real-concurrency pin of the writer fence: the lease tests above
    construct interleavings by hand; this drives two ACTUAL concurrent
    threads merging into ONE manifest target, each retrying on the
    lease IOError.  Safety: every batch lands exactly once (final
    state == the serial LWW of all batches; one committed manifest per
    data batch, seqs strictly sequential).  Liveness: both writers
    finish under bounded retries."""
    import threading
    import time as _time

    target = str(tmp_path / "t")
    _merge(spark, target, [("seed", 0, "s", False)],
           num_buckets=4, protocol="manifest")

    def batches(tag, pri_of):
        return [
            [(f"{tag}{j}", pri_of(i), f"{tag.upper()}{i}", False) for j in range(10)]
            + [(f"s{j}", pri_of(i), f"{tag.upper()}{i}", False) for j in range(5)]
            for i in range(5)
        ]

    plans = {
        "a": batches("a", lambda i: 2 * i + 1),   # pris 1,3,5,7,9
        "b": batches("b", lambda i: 2 * i + 2),   # pris 2,4,6,8,10
    }
    errors, retries = [], {"a": 0, "b": 0}

    def writer(tag):
        for i, rows in enumerate(plans[tag]):
            for _attempt in range(200):
                try:
                    _merge(spark, target, rows)
                    break
                except IOError as e:
                    if "lease" not in str(e):
                        errors.append((tag, i, repr(e)))
                        return
                    retries[tag] += 1
                    _time.sleep(0.05)
            else:
                errors.append((tag, i, "lease retries exhausted"))
                return

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert not any(t.is_alive() for t in threads), "writer hung"

    # serial-LWW expectation: per-key winner is the max-pri batch
    expected = {"seed": (0, "s")}
    expected.update({f"a{j}": (9, "A4") for j in range(10)})
    expected.update({f"b{j}": (10, "B4") for j in range(10)})
    expected.update({f"s{j}": (10, "B4") for j in range(5)})  # b's pri 10 wins
    assert _state(spark, target) == expected
    # exactly one committed manifest per data batch: init 0, seed 1,
    # then ten writer batches -> seqs 0..11, no gaps, no duplicates
    seqs = [int(n[: -len(".json")].split("-", 1)[0]) for n in _manifests(target)]
    assert seqs == list(range(12))


# ---------------------------------------------------------------------------
# value-schema pin (r12): a drifted batch landing in an EMPTY bucket
# would write a divergent per-bucket schema that reads
# non-deterministically (unionByName only catches drift when it touches
# a non-empty bucket) — so the layout pins the full batch schema and
# every merge validates against it
# ---------------------------------------------------------------------------

def _merge_df(spark, target, df, **kw):
    return merge_into(
        spark, target, df, keys=["k"], order_cols=["pri"],
        is_delete=F.col("dead"), **kw,
    )


@pytest.mark.parametrize("protocol", ["manifest"])
def test_value_schema_drift_refused(spark, tmp_path, protocol):
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=4,
           protocol=protocol)

    wide = spark.createDataFrame(
        [("k_empty_bucket", 2, "b", "extra", False)],
        "k string, pri int, v string, v2 string, dead boolean",
    )
    with pytest.raises(ValueError, match="schema drift.*extra columns \\['v2'\\]"):
        _merge_df(spark, target, wide)

    narrow = spark.createDataFrame(
        [("k9", 2, False)], "k string, pri int, dead boolean"
    )
    with pytest.raises(ValueError, match="schema drift.*missing \\['v'\\]"):
        _merge_df(spark, target, narrow)

    retyped = spark.createDataFrame(
        [("k9", 2, 5, False)], "k string, pri int, v int, dead boolean"
    )
    with pytest.raises(ValueError, match="schema drift.*retyped"):
        _merge_df(spark, target, retyped)

    # a conforming batch still merges, and the table never split schemas
    _merge(spark, target, [("k2", 2, "b", False)])
    assert _state(spark, target) == {"k1": (1, "a"), "k2": (2, "b")}


def test_schema_pin_survives_rebucket(spark, tmp_path):
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=4)
    rebucket(spark, target, 8)
    wide = spark.createDataFrame(
        [("k2", 2, "b", "extra", False)],
        "k string, pri int, v string, v2 string, dead boolean",
    )
    with pytest.raises(ValueError, match="schema drift"):
        _merge_df(spark, target, wide)
    _merge(spark, target, [("k2", 2, "b", False)])  # conforming: ok
    assert _state(spark, target) == {"k1": (1, "a"), "k2": (2, "b")}


@pytest.mark.parametrize("protocol", ["manifest"])
def test_null_key_routes_consistently(spark, tmp_path, protocol):
    """NULL-keyed rows on a bucketed layout: xxhash64 ignores NULL
    inputs (constant seed hash), so every NULL key routes to ONE stable
    bucket across batches, and groupBy treats NULLs as one group — so a
    NULL-keyed entity updates and deletes like any other.  Probe-pinned
    r12 (correct from the start; this guards the routing invariant)."""
    target = str(tmp_path / "t")
    _merge(spark, target, [(None, 1, "n1", False), ("k1", 1, "a", False)],
           num_buckets=4, protocol=protocol)
    _merge(spark, target, [(None, 2, "n2", False)])
    assert _state(spark, target) == {None: (2, "n2"), "k1": (1, "a")}
    _merge(spark, target, [(None, 3, "x", True)])
    assert _state(spark, target) == {"k1": (1, "a")}


def test_snapshot_read_by_timestamp(spark, tmp_path):
    """as_of_ms (timestampAsOf analog): resolve by manifest commit
    mtimes.  Commit instants are read from list_snapshots, so the test
    is robust to clock granularity."""
    from lens_sds_batch_spark.plans.merge import list_snapshots

    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)],
           num_buckets=4, protocol="manifest")
    time.sleep(1.1)  # local-fs mtime granularity can be 1s
    _merge(spark, target, [("k1", 2, "b", False)])
    snaps = {s["seq"]: s["committed_ms"] for s in list_snapshots(spark, target)}
    assert set(snaps) == {0, 1, 2}
    assert snaps[1] < snaps[2]

    def at_ms(ms):
        df = read_merged_table(spark, target, as_of_ms=ms)
        return {} if df is None else {r["k"]: r["v"] for r in df.collect()}

    assert at_ms(snaps[1]) == {"k1": "a"}          # instant of commit 1
    assert at_ms(snaps[2] - 1) == {"k1": "a"}      # just before commit 2
    assert at_ms(snaps[2]) == {"k1": "b"}
    with pytest.raises(ValueError, match="predates the table"):
        at_ms(snaps[0] - 1)
    # after the newest commit instant RAISES (ADVICE r12, Delta
    # timestampAsOf semantics) — never a silent clamp to latest
    with pytest.raises(ValueError, match="after the latest commit instant"):
        at_ms(snaps[2] + 60_000)
    with pytest.raises(ValueError, match="not both"):
        read_merged_table(spark, target, as_of_seq=1, as_of_ms=snaps[1])
    # as_of_ms on a non-manifest target gets the SAME read_merged_table-
    # prefixed diagnostic the as_of_seq path gives (ADVICE r12)
    t2 = str(tmp_path / "plain")
    _df(spark, [("k1", 1, "a", False)]).write.parquet(t2)
    with pytest.raises(
        ValueError,
        match="read_merged_table: as_of_ms=.* is not a manifest-commit",
    ):
        read_merged_table(spark, t2, as_of_ms=snaps[2])


def test_first_merge_creates_missing_parent_dirs(spark, tmp_path):
    """ADVICE r12: the POSIX O_EXCL lease path must create the target's
    parent directories like the Hadoop fs.create it replaced — a first
    merge into a nested not-yet-existing path used to die with a
    misleading 'lease contention' IOError."""
    target = str(tmp_path / "a" / "b" / "t")  # a/ and b/ do not exist
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=4)
    assert _state(spark, target) == {"k1": (1, "a")}


def test_snapshot_survives_rebucket(spark, tmp_path):
    """A rebucket commits a new all-bucket generation under a NEW
    bucket count; older manifests still reference the old-count
    generations explicitly, so pre-rebucket snapshots stay readable
    (until vacuumed) and read the pre-rebucket state exactly."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False), ("k2", 1, "b", False)],
           num_buckets=16, protocol="manifest")
    pre = _state(spark, target)
    rebucket(spark, target, 4)
    _merge(spark, target, [("k2", 2, "b2", False)])
    snap = read_merged_table(spark, target, as_of_seq=1)  # pre-rebucket
    assert {r["k"]: (r["pri"], r["v"]) for r in snap.collect()} == pre
    assert _state(spark, target)["k2"] == (2, "b2")


def test_plain_flavor_refuses_retyped_column(spark, tmp_path):
    """A target materialized with no layout arguments at all (one
    bucket, the default) pins its schema like any other: a retyped
    value column would otherwise silently type-coerce (numeric-looking
    strings) or explode mid-job as a runtime cast error (r12 probe)."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)])  # no layout arguments
    retyped = spark.createDataFrame(
        [("k2", 2, 7, False)], "k string, pri int, v int, dead boolean"
    )
    with pytest.raises(ValueError, match="schema drift.*retyped"):
        merge_into(spark, target, retyped, keys=["k"], order_cols=["pri"],
                   is_delete=F.col("dead"))
    # conforming batch still merges
    _merge(spark, target, [("k2", 2, "b", False)])
    assert _state(spark, target) == {"k1": (1, "a"), "k2": (2, "b")}


def test_rebucket_during_live_traffic(spark, tmp_path):
    """The operational migration scenario: a maintenance thread
    rebuckets 4→8 WHILE a writer thread streams batches, both retrying
    on the lease.  Safety: every batch lands exactly once, the final
    layout is 8 buckets, and state equals the serial LWW — the
    migration never loses or duplicates a concurrent batch."""
    import threading
    import time as _time

    from lens_sds_batch_spark.plans.merge import suggest_num_buckets

    target = str(tmp_path / "t")
    _merge(spark, target, [("seed", 0, "s", False)],
           num_buckets=4, protocol="manifest")
    errors = []

    def with_lease_retry(fn, tag):
        for _attempt in range(400):
            try:
                return fn()
            except IOError as e:
                if "lease" not in str(e):
                    errors.append((tag, repr(e)))
                    return None
                _time.sleep(0.05)
        errors.append((tag, "lease retries exhausted"))
        return None

    def writer():
        for i in range(6):
            rows = [(f"k{j}", i + 1, f"W{i}", False) for j in range(12)]
            with_lease_retry(lambda r=rows: _merge(spark, target, r), "writer")

    def migrator():
        _time.sleep(0.4)  # land mid-stream
        with_lease_retry(lambda: rebucket(spark, target, 8), "rebucket")

    threads = [threading.Thread(target=writer), threading.Thread(target=migrator)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert not any(t.is_alive() for t in threads), "hung"

    assert suggest_num_buckets(spark, target, target_bucket_bytes=1 << 40)[
        "num_buckets"
    ] == 8
    expected = {"seed": (0, "s")}
    expected.update({f"k{j}": (6, "W5") for j in range(12)})
    assert _state(spark, target) == expected


def test_evolve_during_live_traffic(spark, tmp_path):
    """r13 stress: the schema-cutover deploy scenario — an evolution
    thread adds a column WHILE a writer thread streams batches.  The
    writer retries on the lease AND, on the drift refusal the add
    creates for its old-shape batches, cuts over to the v2 batch shape
    (exactly what a deploy does).  Safety: every batch lands exactly
    once, the final winner's site value matches whichever shape batch
    6 actually used, and no row is lost across the cutover."""
    import threading
    import time as _time

    from lens_sds_batch_spark.plans.merge import evolve_schema

    target = str(tmp_path / "t")
    _merge(spark, target, [("seed", 0, "s", False)],
           num_buckets=4, protocol="manifest")
    errors: list = []
    used_v2: dict = {}

    def writer():
        cut = False
        for i in range(6):
            for _attempt in range(400):
                try:
                    if cut:
                        rows = [(f"k{j}", i + 1, f"W{i}", False, f"S{i}")
                                for j in range(12)]
                        merge_into(
                            spark, target,
                            spark.createDataFrame(rows, SCHEMA + ", site string"),
                            keys=["k"], order_cols=["pri"],
                            is_delete=F.col("dead"),
                        )
                    else:
                        _merge(spark, target,
                               [(f"k{j}", i + 1, f"W{i}", False)
                                for j in range(12)])
                    used_v2[i] = cut
                    break
                except IOError as e:
                    if "lease" not in str(e):
                        errors.append(("writer", repr(e)))
                        return
                    _time.sleep(0.05)
                except ValueError as e:
                    if "evolve_schema" in str(e) and not cut:
                        cut = True  # schema cutover: rebuild batch as v2
                    else:
                        errors.append(("writer", repr(e)))
                        return
            else:
                errors.append(("writer", "retries exhausted"))
                return

    def evolver():
        _time.sleep(0.3)  # land mid-stream
        for _attempt in range(400):
            try:
                evolve_schema(spark, target, add={"site": "string"})
                return
            except IOError as e:
                if "lease" not in str(e):
                    errors.append(("evolve", repr(e)))
                    return
                _time.sleep(0.05)
        errors.append(("evolve", "retries exhausted"))

    threads = [threading.Thread(target=writer), threading.Thread(target=evolver)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert not any(t.is_alive() for t in threads), "hung"
    assert set(used_v2) == set(range(6))  # every batch landed exactly once

    out = read_merged_table(spark, target)
    got = {r["k"]: (r["pri"], r["v"], r["site"]) for r in out.collect()}
    want_site = "S5" if used_v2[5] else None
    expected = {"seed": (0, "s", None)}
    expected.update({f"k{j}": (6, "W5", want_site) for j in range(12)})
    assert got == expected


def test_maintain_during_live_traffic(spark, tmp_path):
    """r13 stress: the maintenance window runs (advisor-gated rebucket
    + compaction + grace-0 vacuum, each phase taking the lease itself)
    WHILE a writer streams batches — phases and merges interleave
    freely, every batch lands exactly once, and state equals the
    serial LWW."""
    import threading
    import time as _time

    from lens_sds_batch_spark.plans.merge import maintain_merged_table

    target = str(tmp_path / "t")
    _merge(spark, target, [("seed", 0, "s", False)],
           num_buckets=4, protocol="manifest")
    errors: list = []

    def with_lease_retry(fn, tag):
        for _attempt in range(400):
            try:
                return fn()
            except IOError as e:
                if "lease" not in str(e):
                    errors.append((tag, repr(e)))
                    return None
                _time.sleep(0.05)
        errors.append((tag, "lease retries exhausted"))
        return None

    def writer():
        for i in range(6):
            rows = [(f"k{j}", i + 1, f"W{i}", False) for j in range(12)]
            with_lease_retry(lambda r=rows: _merge(spark, target, r), "writer")

    def maintainer():
        for _round in range(2):
            _time.sleep(0.3)
            with_lease_retry(
                lambda: maintain_merged_table(spark, target, grace_sec=0.0),
                "maintain",
            )

    threads = [threading.Thread(target=writer), threading.Thread(target=maintainer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert not any(t.is_alive() for t in threads), "hung"

    expected = {"seed": (0, "s")}
    expected.update({f"k{j}": (6, "W5") for j in range(12)})
    assert _state(spark, target) == expected


def test_ckpt_with_touched_observation(spark):
    """r15: the touched-bucket set rides the batch checkpoint as an
    Observation (one job instead of checkpoint + distinct-collect).
    This pins the Spark behavior the fold depends on — Observation
    metrics firing through localCheckpoint(eager=True) — with a
    watchdog, because a Spark version that stopped delivering the
    metric would HANG obs.get (and every merge with it), which must
    surface as a loud test failure at upgrade time, not a wedged
    pipeline."""
    import threading

    from lens_sds_batch_spark.plans.merge import _ckpt_with_touched, BUCKET_COL

    batch = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") % 3 == 0).alias("del"),
    )
    result: dict = {}

    def run():
        df, touched = _ckpt_with_touched(batch, ["k"], 8, F.col("del"))
        result["touched"] = touched
        result["df"] = df

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), (
        "_ckpt_with_touched hung — Observation metrics no longer fire "
        "through localCheckpoint(eager=True) on this Spark version; "
        "restore the separate distinct-collect"
    )
    df = result["df"]
    # the observed set equals a direct distinct over the SAME
    # materialization, and the checkpointed frame carries the tag cols
    expect = sorted(r[0] for r in df.select(BUCKET_COL).distinct().collect())
    assert result["touched"] == expect
    assert df.where(F.col("__del")).count() == df.where(F.col("del")).count()
    # empty batch: observe over zero rows must yield the empty set
    def run_empty():
        _, touched = _ckpt_with_touched(batch.where(F.lit(False)), ["k"], 8, F.col("del"))
        result["empty"] = touched

    t2 = threading.Thread(target=run_empty, daemon=True)
    t2.start()
    t2.join(timeout=120)
    assert not t2.is_alive()
    assert result["empty"] == []


# ---------------------------------------------------------------------------
# One refusal for every store entry point
# ---------------------------------------------------------------------------


# every public entry point that opens a manifest table: name -> call(spark,
# path, spare), ``spare`` a fresh path for a feed consumer's other side.
# ivm.read_aggregate is left out: it composes read_merged_table and
# empty_merged_table, and refuses in their names.
_ENTRY_CALLS = {
    "read_merged_table": lambda s, p, o: mg.read_merged_table(s, p),
    "lookup_merged_keys": lambda s, p, o: mg.lookup_merged_keys(
        s, p, s.createDataFrame([("a",)], "k string")
    ),
    "list_snapshots": lambda s, p, o: mg.list_snapshots(s, p),
    "read_commit_meta": lambda s, p, o: mg.read_commit_meta(s, p),
    "empty_merged_table": lambda s, p, o: mg.empty_merged_table(s, p),
    "read_changes": lambda s, p, o: mg.read_changes(s, p, from_seq=0),
    "replicate_changes": lambda s, p, o: mg.replicate_changes(s, p, o),
    "replica_status": lambda s, p, o: mg.replica_status(s, p, o),
    "refresh_aggregate": lambda s, p, o: ivm.refresh_aggregate(
        s, p, o, group_keys=["v"], aggs={"n": ("count", "*")}
    ),
    "ivm_status": lambda s, p, o: ivm.ivm_status(s, p, o),
    "merge_into": lambda s, p, o: _merge(s, p, [("a", 1, "x", False)]),
    "vacuum_merged_table": lambda s, p, o: mg.vacuum_merged_table(s, p),
    "compact_merged_table": lambda s, p, o: mg.compact_merged_table(s, p),
    "rebucket": lambda s, p, o: mg.rebucket(s, p, 2),
    "evolve_schema": lambda s, p, o: mg.evolve_schema(s, p, add={"z": "string"}),
    "maintain_merged_table": lambda s, p, o: mg.maintain_merged_table(s, p),
    "suggest_num_buckets": lambda s, p, o: mg.suggest_num_buckets(s, p),
    "maybe_rebucket": lambda s, p, o: mg.maybe_rebucket(s, p),
}
# the entry points that take a seq, asked for one beyond the newest commit
_AS_OF_CALLS = {
    "read_merged_table": lambda s, p: mg.read_merged_table(s, p, as_of_seq=99),
    "read_commit_meta": lambda s, p: mg.read_commit_meta(s, p, as_of_seq=99),
    "read_changes": lambda s, p: mg.read_changes(s, p, from_seq=99),
}
# a missing path is an empty table to these: None, or merge_into's first commit
_MISSING_TOLERANT = {"read_merged_table", "lookup_merged_keys", "merge_into"}
_REFUSALS = {
    "missing": "no table at .* not a manifest-commit target",
    "plain": "no table at .* not a manifest-commit target",
    "corrupt": "unreadable/corrupt manifest",
    "as_of": "seq 99 is beyond the latest commit",
}


@pytest.fixture(scope="module")
def refusal_paths(spark, tmp_path_factory):
    """A missing path, a plain parquet dir, a manifest table whose
    latest manifest is corrupt, and a good one-commit table."""
    d = tmp_path_factory.mktemp("refusals")
    plain, corrupt, good = str(d / "plain"), str(d / "corrupt"), str(d / "good")
    _df(spark, [("a", 1, "x", False)]).write.parquet(plain)
    for t in (corrupt, good):
        _merge(spark, t, [("a", 1, "x", False)])
    with open(os.path.join(corrupt, MANIFEST_DIR, _manifests(corrupt)[-1]), "w") as f:
        f.write("{not json")
    return {"missing": str(d / "missing"), "plain": plain, "corrupt": corrupt,
            "as_of": good, "spare": str(d / "spare")}


@pytest.mark.parametrize(
    "case,name",
    [
        (case, name)
        for case in ("missing", "plain", "corrupt")
        for name in _ENTRY_CALLS
        if not (case == "missing" and name in _MISSING_TOLERANT)
    ]
    + [("as_of", name) for name in _AS_OF_CALLS],
)
def test_every_entry_point_refuses_a_non_table_in_its_own_name(
    spark, refusal_paths, case, name
):
    """Every entry point opens the table through one resolver: a path
    that holds no manifest table (missing, or plain parquet), a corrupt
    latest manifest and a seq beyond the newest commit are refused with
    the one shared message, prefixed with the entry point's own name —
    never another entry point's."""
    path, spare = refusal_paths[case], refusal_paths["spare"]
    with pytest.raises(ValueError, match=f"^{name}: {_REFUSALS[case]}"):
        if case == "as_of":
            _AS_OF_CALLS[name](spark, path)
        else:
            _ENTRY_CALLS[name](spark, path, spare)
    assert not os.path.exists(spare)

