"""DataFrame ports of the reference's behavioral test suite
(``test/lens/import_clinical_data_test.clj``, SURVEY.md §5):

- insert emits the exact command payload and cascades into children
- a FAILED insert skips the whole subtree (success gating, A11)
- update emits NO command for interior nodes but cascades (A13)
- remove emits its command and does NOT cascade (A14, test :208-220)
- tx-type inheritance: child null -> parent tx, top default insert
- upsert accepts created OR updated as success (A12)

Fixtures are tiny hand-built OdmTables, asserted against exact command
rows — same scenarios, same expectations, DataFrame form.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lens_sds_batch_spark.functions.keys import NIL_UUID, uuid3_str_py
from lens_sds_batch_spark.plans.commands import generate_commands, resolve_and_identify
from lens_sds_batch_spark.plans.correlate import correlate, first_event_per_cid, success_set
from lens_sds_batch_spark.plans.odm import OdmTables

FILE = "F-T1"
BATCH = "00000000-0000-0000-0000-00000000abcd"
SUB = "tester"

S_COLS = "file_oid string, study_oid string, subject_key string, tx_type string"
SE_COLS = "file_oid string, study_oid string, subject_key string, study_event_oid string, tx_type string"
FM_COLS = (
    "file_oid string, study_oid string, subject_key string, study_event_oid string, "
    "form_oid string, tx_type string"
)
IG_COLS = (
    "file_oid string, study_oid string, subject_key string, study_event_oid string, "
    "form_oid string, item_group_oid string, tx_type string"
)
IT_COLS = (
    "file_oid string, study_oid string, subject_key string, study_event_oid string, "
    "form_oid string, item_group_oid string, item_oid string, tx_type string, "
    "data_type string, value_canon string"
)


def build_odm(spark, subjects, ses=(), forms=(), igs=(), items=()):
    files = spark.createDataFrame(
        [(FILE, "transactional", BATCH, SUB)],
        "file_oid string, file_type string, batch_cmd_id string, sub string",
    )
    return OdmTables(
        files=files,
        subjects=spark.createDataFrame(list(subjects), S_COLS),
        study_events=spark.createDataFrame(list(ses) or [], SE_COLS),
        forms=spark.createDataFrame(list(forms) or [], FM_COLS),
        item_groups=spark.createDataFrame(list(igs) or [], IG_COLS),
        items=spark.createDataFrame(list(items) or [], IT_COLS),
    )


def cmd_names(df):
    return sorted(r["name"] for r in df.select("name").collect())


def test_insert_subject_exact_payload(spark):
    """Reference :18-38 — insert-subject command carries
    {study-id, subject-key} with the derived study id."""
    odm = build_odm(spark, [(FILE, "S1", "SK01", "insert")])
    cmds = generate_commands(odm, BATCH, SUB, persist=False).collect()
    assert len(cmds) == 1
    c = cmds[0]
    assert c["name"] == "odm-import/insert-subject"
    assert c["subject_key"] == "SK01"
    assert c["parent_id"] == uuid3_str_py(NIL_UUID, ["S1"])
    assert c["sub"] == SUB
    assert c["file_oid"] == FILE


def test_insert_cascades_to_children(spark):
    """Reference :24-38 — insert cascades; children inherit insert."""
    odm = build_odm(
        spark,
        [(FILE, "S1", "SK01", "insert")],
        ses=[(FILE, "S1", "SK01", "SE1", None)],
        forms=[(FILE, "S1", "SK01", "SE1", "FM1", None)],
        igs=[(FILE, "S1", "SK01", "SE1", "FM1", "IG1", None)],
        items=[(FILE, "S1", "SK01", "SE1", "FM1", "IG1", "I1", None, "string", "hello")],
    )
    names = cmd_names(generate_commands(odm, BATCH, SUB, persist=False))
    assert names == [
        "odm-import/insert-form",
        "odm-import/insert-item",
        "odm-import/insert-item-group",
        "odm-import/insert-study-event",
        "odm-import/insert-subject",
    ]


def test_update_interior_no_command_but_cascades(spark):
    """Reference :55-68,181-194 — update on interior nodes emits
    nothing; the leaf item gets update-item with the item-id param."""
    odm = build_odm(
        spark,
        [(FILE, "S1", "SK01", "update")],
        ses=[(FILE, "S1", "SK01", "SE1", None)],
        forms=[(FILE, "S1", "SK01", "SE1", "FM1", None)],
        igs=[(FILE, "S1", "SK01", "SE1", "FM1", "IG1", None)],
        items=[(FILE, "S1", "SK01", "SE1", "FM1", "IG1", "I1", None, "integer", "42")],
    )
    cmds = generate_commands(odm, BATCH, SUB, persist=False).collect()
    assert [c["name"] for c in cmds] == ["odm-import/update-item"]
    c = cmds[0]
    study = uuid3_str_py(NIL_UUID, ["S1"])
    subject = uuid3_str_py(study, ["SK01"])
    se = uuid3_str_py(subject, ["SE1"])
    form = uuid3_str_py(se, ["FM1"])
    ig = uuid3_str_py(form, ["IG1"])
    assert c["item_id"] == uuid3_str_py(ig, ["I1"])
    assert c["value_canon"] == "42"


def test_remove_does_not_cascade(spark):
    """Reference :208-220 — remove emits its command; children rows are
    ignored even when present."""
    odm = build_odm(
        spark,
        [(FILE, "S1", "SK01", "remove")],
        ses=[(FILE, "S1", "SK01", "SE1", None)],
        forms=[(FILE, "S1", "SK01", "SE1", "FM1", None)],
        igs=[(FILE, "S1", "SK01", "SE1", "FM1", "IG1", None)],
        items=[(FILE, "S1", "SK01", "SE1", "FM1", "IG1", "I1", None, "string", "x")],
    )
    cmds = generate_commands(odm, BATCH, SUB, persist=False).collect()
    assert [c["name"] for c in cmds] == ["odm-import/remove-subject"]


def test_tx_inheritance_and_default(spark):
    """Reference :92-100 — null tx inherits parent; top default insert."""
    odm = build_odm(
        spark,
        [(FILE, "S1", "SK01", None), (FILE, "S1", "SK02", "upsert")],
        ses=[(FILE, "S1", "SK01", "SE1", None), (FILE, "S1", "SK02", "SE2", None)],
    )
    r = resolve_and_identify(odm)
    got = {r["subject_key"]: r["rtx"] for r in r.subjects.collect()}
    assert got == {"SK01": "insert", "SK02": "upsert"}
    se = {r["study_event_oid"]: r["rtx"] for r in r.study_events.collect()}
    assert se == {"SE1": "insert", "SE2": "upsert"}


def test_failed_insert_skips_children(spark):
    """Reference :40-53 — when the parent's command fails (error event),
    the child subtree is skipped.  Batch form: semi-join the child level
    against the success set."""
    odm = build_odm(
        spark,
        [(FILE, "S1", "SK01", "insert"), (FILE, "S1", "SK02", "insert")],
        ses=[(FILE, "S1", "SK01", "SE1", None), (FILE, "S1", "SK02", "SE2", None)],
    )
    cmds = generate_commands(odm, BATCH, SUB, persist=False)
    subj_cmds = cmds.where(F.col("name") == "odm-import/insert-subject")
    # events: SK01 created; SK02 error
    ok_id = subj_cmds.where(F.col("subject_key") == "SK01").collect()[0]["cmd_id"]
    bad_id = subj_cmds.where(F.col("subject_key") == "SK02").collect()[0]["cmd_id"]
    events = spark.createDataFrame(
        [("e1", ok_id, "subject/created", 1), ("e2", bad_id, "error", 1)],
        "id string, cid string, name string, t int",
    )
    first = first_event_per_cid(events, [F.col("t"), F.col("id")])
    ok = success_set(
        correlate(subj_cmds, first), ["subject/created", "subject/updated"]
    )
    ok_subjects = subj_cmds.join(ok, "cmd_id").select("subject_key")
    gated_ses = odm.study_events.join(
        ok_subjects.withColumnRenamed("subject_key", "sk"),
        odm.study_events.subject_key == F.col("sk"),
        "left_semi",
    )
    assert [r["study_event_oid"] for r in gated_ses.collect()] == ["SE1"]


def test_upsert_accepts_created_or_updated(spark):
    """Reference :240-252 — upsert succeeds on created OR updated."""
    odm = build_odm(spark, [(FILE, "S1", "SK01", "upsert"), (FILE, "S1", "SK02", "upsert")])
    cmds = generate_commands(odm, BATCH, SUB, persist=False)
    ids = {r["subject_key"]: r["cmd_id"] for r in cmds.collect()}
    events = spark.createDataFrame(
        [("e1", ids["SK01"], "subject/created", 1), ("e2", ids["SK02"], "subject/updated", 1)],
        "id string, cid string, name string, t int",
    )
    first = first_event_per_cid(events, [F.col("t"), F.col("id")])
    ok = success_set(correlate(cmds, first), ["subject/created", "subject/updated"])
    assert ok.count() == 2


def test_first_event_wins(spark):
    """Reference A20 — exactly the first event per cid is delivered."""
    events = spark.createDataFrame(
        [("e1", "c1", "subject/created", 2), ("e2", "c1", "error", 1), ("e3", "c2", "subject/created", 5)],
        "id string, cid string, name string, t int",
    )
    first = first_event_per_cid(events, [F.col("t"), F.col("id")])
    got = {r["cid"]: r["name"] for r in first.collect()}
    assert got == {"c1": "error", "c2": "subject/created"}


def test_typed_value_cmd_id_golden_sha1(spark):
    """Pin the sha1-flavor insert-item cmd_id for each typed value
    (integer / float / date-time / string) — the ONE documented parity
    delta vs the reference (plans/commands.py generate_commands
    docstring; reference ``util.clj:32-43`` + ``coerce`` at
    ``import_clinical_data.clj:54-57``).

    The reference hands clj-uuid the *typed object* (Long / Double-or-
    BigDecimal / java.util.Date), whose UUIDNameBytes Object branch
    encodes via JVM-internal bytes; this sandbox has neither Clojure nor
    the clj-uuid jar, and the ODM parser's runtime type for :float is
    not determinable from the reference checkout alone — so byte parity
    for typed VALUES is unverifiable here and we deliberately hash the
    canonical *string* form instead (floats as DECIMAL(18,2) strings,
    date-times as epoch seconds, ints verbatim; plans/odm.py canon).
    String values ARE byte-parity (UTF-8 both sides, golden-pinned in
    test_keys.py).  This test freezes the divergent ids per type so any
    drift in the engine's own contract fails loudly."""
    from lens_sds_batch_spark.functions.keys import uuid5_py

    items = [
        (FILE, "S1", "SK01", "SE1", "FM1", "IG1", "I-INT", None, "integer", "42"),
        (FILE, "S1", "SK01", "SE1", "FM1", "IG1", "I-FLT", None, "float", "1.50"),
        (FILE, "S1", "SK01", "SE1", "FM1", "IG1", "I-DT", None, "date-time", "1704067200"),
        (FILE, "S1", "SK01", "SE1", "FM1", "IG1", "I-STR", None, "string", "x"),
    ]
    odm = build_odm(
        spark,
        [(FILE, "S1", "SK01", "insert")],
        ses=[(FILE, "S1", "SK01", "SE1", None)],
        forms=[(FILE, "S1", "SK01", "SE1", "FM1", None)],
        igs=[(FILE, "S1", "SK01", "SE1", "FM1", "IG1", None)],
        items=items,
    )
    cmds = generate_commands(odm, BATCH, SUB, persist=False, flavor="sha1")
    got = {
        r["item_oid"]: r["cmd_id"]
        for r in cmds.where(F.col("name") == "odm-import/insert-item").collect()
    }

    # pure-Python replication of the engine's documented encoding
    study_id = uuid5_py(NIL_UUID, ["S1"])
    subject_id = uuid5_py(study_id, ["SK01"])
    se_id = uuid5_py(subject_id, ["SE1"])
    form_id = uuid5_py(se_id, ["FM1"])
    ig_id = uuid5_py(form_id, ["IG1"])
    import uuid as _uuid

    def expect(item_oid, data_type, canon):
        payload = (
            b":odm-import/insert-item"
            + b":data-type" + data_type.encode()
            + b":file-oid" + FILE.encode()
            + b":item-group-id" + _uuid.UUID(ig_id).bytes
            + b":item-oid" + item_oid.encode()
            + b":value" + canon.encode()
        )
        return uuid5_py(BATCH, [payload])

    assert got == {
        "I-INT": expect("I-INT", "integer", "42"),
        "I-FLT": expect("I-FLT", "float", "1.50"),
        "I-DT": expect("I-DT", "date-time", "1704067200"),
        "I-STR": expect("I-STR", "string", "x"),
    }


def test_multifile_batch_per_file_cmd_id_namespacing(spark):
    """Reference consumes a QUEUE of batch commands — one per ODM file —
    and namespaces every generated cmd id under its own batch command's
    id (``broker.clj:157-169``, ``import_clinical_data.clj:288-297``).
    Multi-file run: identical subtrees in two files must yield IDENTICAL
    entity ids (path-deterministic, file-independent) but DISTINCT cmd
    ids (namespaced per batch cmd)."""
    from lens_sds_batch_spark.plans.commands import PER_FILE

    files = spark.createDataFrame(
        [("F-A", "transactional", "ignored", SUB), ("F-B", "transactional", "ignored", SUB)],
        "file_oid string, file_type string, batch_cmd_id string, sub string",
    )
    odm = OdmTables(
        files=files,
        subjects=spark.createDataFrame(
            [("F-A", "S1", "SK01", "insert"), ("F-B", "S1", "SK01", "insert")], S_COLS
        ),
        study_events=spark.createDataFrame([], SE_COLS),
        forms=spark.createDataFrame([], FM_COLS),
        item_groups=spark.createDataFrame([], IG_COLS),
        items=spark.createDataFrame([], IT_COLS),
    )
    cmds = generate_commands(odm, PER_FILE, SUB, persist=False)
    rows = {r["file_oid"]: r for r in cmds.collect()}
    assert set(rows) == {"F-A", "F-B"}
    # same path -> same entity id regardless of file
    assert rows["F-A"]["parent_id"] == rows["F-B"]["parent_id"]
    # distinct batch namespaces -> distinct cmd ids
    assert rows["F-A"]["cmd_id"] != rows["F-B"]["cmd_id"]
    # and each equals the scalar-namespace run for its own file
    for foid in ("F-A", "F-B"):
        bid = uuid3_str_py(NIL_UUID, ["batch-cmd", foid])
        solo = generate_commands(
            OdmTables(
                files=files.where(F.col("file_oid") == foid),
                subjects=odm.subjects.where(F.col("file_oid") == foid),
                study_events=odm.study_events,
                forms=odm.forms,
                item_groups=odm.item_groups,
                items=odm.items,
            ),
            bid,
            SUB,
            persist=False,
        ).collect()
        assert solo[0]["cmd_id"] == rows[foid]["cmd_id"]


def test_batch_cmd_id_map_unmapped_file_fails_loudly(spark):
    """ADVICE r4: a file_oid absent from the queue-metadata map must
    FAIL the job, not silently emit NULL cmd_ids for the whole file
    (nothing downstream consumes NULL ids — the commands would be lost
    without a trace)."""
    from lens_sds_batch_spark.plans.commands import batch_cmd_id_map

    odm = build_odm(
        spark, [(FILE, "S1", "SK01", "insert"), ("F-UNMAPPED", "S1", "SK02", "insert")]
    )
    # mapped file still works
    ok = generate_commands(
        build_odm(spark, [(FILE, "S1", "SK01", "insert")]),
        batch_cmd_id_map({FILE: BATCH}),
        SUB,
        persist=False,
    ).collect()
    assert len(ok) == 1 and ok[0]["cmd_id"] is not None
    # unmapped file -> raise_error surfaces at execution
    with pytest.raises(Exception, match="not in queue metadata map: F-UNMAPPED"):
        generate_commands(odm, batch_cmd_id_map({FILE: BATCH}), SUB, persist=False).collect()


def test_null_cmd_id_guard_fires_on_malformed_uuid_param(spark):
    """ADVICE r4: the sha1 flavor nulls the payload for a malformed
    non-hex uuid param (documented as a 'detectable NULL cmd_id') — the
    guard makes that state actually detected: generation fails loudly
    instead of propagating a NULL id into the idempotency contract."""
    # craft a pre-resolved (fused-path) subjects level whose study_id is
    # a malformed uuid string: unhex() -> NULL -> NULL payload.  The
    # fused path's generator takes resolved levels as they are; its
    # subject arm is the same per-level projection generate_commands uses
    from lens_sds_batch_spark.plans.commands import generate_commands_single_pass

    subjects = spark.createDataFrame(
        [(FILE, "S1", "SK01", "insert", "insert", "not-a-hex-uuid", "also-bad")],
        S_COLS + ", rtx string, study_id string, subject_id string",
    )
    study_events = spark.createDataFrame(
        [], SE_COLS + ", rtx string, study_event_id string, subject_id string"
    )
    denorm = spark.createDataFrame(
        [],
        "file_oid string, study_oid string, subject_key string, study_event_oid string, "
        "form_oid string, form_rtx string, study_event_id string, form_id string",
    )
    with pytest.raises(Exception, match="NULL cmd-id payload at subject level"):
        generate_commands_single_pass(
            subjects, study_events, denorm, BATCH, SUB, item_attrs=[], flavor="sha1"
        ).collect()


def test_merge_into_fallback_equals_apply_lww(spark, tmp_path):
    """VERDICT r5 #7: merge_into's stored result must equal the pure
    apply_lww semantics on the entity_state_subjects scenario —
    same current state (even-custkey v0 subjects), same incoming command
    batch (insert/upsert -> v1, remove -> tombstone).  Runs the merge
    TWICE to also pin idempotency (replaying the same batch against the
    merged state changes nothing — the deterministic-command-id replay
    argument applied at the storage seam)."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import (
        apply_lww,
        merge_into,
        read_merged_table,
    )
    from lens_sds_batch_spark.plans.odm import resolved_subjects

    from .conftest import SF_SMOKE

    subj = resolved_subjects(spark, SF_SMOKE)
    updates = subj.where(F.col("rtx").isin("insert", "upsert", "remove")).select(
        "study_oid",
        "subject_key",
        F.lit(1).alias("priority"),
        F.lit("v1").alias("version"),
        (F.col("rtx") == "remove").alias("is_remove"),
    )
    from lens_sds_batch_spark.sources.parquet import load_table

    current = (
        load_table(spark, SF_SMOKE, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select(
            F.concat(F.lit("ST"), (F.col("c_custkey") % 3).cast("string")).alias("study_oid"),
            F.concat(F.lit("SK"), F.col("c_custkey").cast("string")).alias("subject_key"),
            F.lit(0).alias("priority"),
            F.lit("v0").alias("version"),
            F.lit(False).alias("is_remove"),
        )
    )
    target = str(tmp_path / "entity_state")
    merge_into(  # stored state: the first batch
        spark, target, current,
        keys=["study_oid", "subject_key"],
        order_cols=["priority"],
        is_delete=F.col("is_remove"),
    )

    res = merge_into(
        spark, target, updates,
        keys=["study_oid", "subject_key"],
        order_cols=["priority"],
        is_delete=F.col("is_remove"),
    )
    assert res["engine"] == "parquet-manifest"

    expected = apply_lww(
        current.unionByName(updates),
        keys=["study_oid", "subject_key"],
        order_cols=[F.col("priority")],
        is_delete=F.col("is_remove"),
    ).select("study_oid", "subject_key", "version")

    def got():
        return read_merged_table(spark, target).select(
            "study_oid", "subject_key", "version"
        )

    n = got().count()
    assert n == expected.count()
    assert got().exceptAll(expected).isEmpty() and expected.exceptAll(got()).isEmpty()

    # replay the same batch: LWW over deterministic keys -> no change
    merge_into(
        spark, target, updates,
        keys=["study_oid", "subject_key"],
        order_cols=["priority"],
        is_delete=F.col("is_remove"),
    )
    assert got().count() == n
    assert got().exceptAll(expected).isEmpty() and expected.exceptAll(got()).isEmpty()


def test_merge_into_bucketed_prunes_untouched_buckets(spark, tmp_path):
    """VERDICT r10 #1: the portable merge's 100 TB path — a key-hash-
    bucketed target layout where a batch rewrites ONLY the buckets it
    touches.  Pins, in order: (a) first materialization lays out
    __bucket= partition dirs + the _manifest dir; (b) a later batch
    auto-detects the layout (no num_buckets re-passed), reports exactly
    the touched buckets, and produces the same table apply_lww would;
    (c) every file in every UNTOUCHED bucket is byte- and
    mtime-identical after the merge — the scale claim itself; (d) a
    bucket whose keys are all deleted leaves the live map; (e)
    replaying the same batch is a no-op on table state and still
    leaves untouched buckets alone; (f) a bucket filter on the resolved
    read is partition-pruned at the scan (PartitionFilters)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import (
        BUCKET_COL,
        MANIFEST_DIR,
        apply_lww,
        bucket_expr,
        merge_into,
        read_merged_table,
    )

    N = 8
    target = str(tmp_path / "bucketed_state")
    current = spark.createDataFrame(
        [(f"k{i}", 0, "v0", False) for i in range(200)],
        "k string, pri int, v string, dead boolean",
    )
    res0 = merge_into(
        spark, target, current, keys=["k"], order_cols=["pri"],
        is_delete=F.col("dead"), num_buckets=N,
    )
    assert res0["engine"] == "parquet-manifest" and res0["num_buckets"] == N
    layout = {d for d in os.listdir(target) if d.startswith(BUCKET_COL + "=")}
    assert layout and os.path.isdir(os.path.join(target, MANIFEST_DIR))

    # derive each key's bucket with the SAME expression the merge uses
    bucket_of = {
        r["k"]: r["b"]
        for r in current.select("k", bucket_expr(["k"], N).alias("b")).collect()
    }
    present = sorted(set(bucket_of.values()))
    assert len(present) >= 4  # 200 keys over 8 buckets: all should exist
    b_upd, b_kill = present[0], present[1]
    upd_keys = [k for k, b in bucket_of.items() if b == b_upd][:5]
    kill_keys = [k for k, b in bucket_of.items() if b == b_kill]  # ALL of them
    # a brand-new key that hashes into the update bucket (search)
    new_key = next(
        r["k"]
        for r in spark.createDataFrame(
            [(f"n{i}",) for i in range(500)], "k string"
        ).select("k", bucket_expr(["k"], N).alias("b")).collect()
        if r["b"] == b_upd
    )
    updates = spark.createDataFrame(
        [(k, 1, "v1", False) for k in upd_keys]
        + [(k, 1, "gone", True) for k in kill_keys]
        + [(new_key, 1, "new", False)],
        "k string, pri int, v string, dead boolean",
    )

    def file_state():
        out = {}
        for root, _dirs, files in os.walk(target):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, target)] = (
                    st.st_mtime_ns,
                    st.st_size,
                    hashlib.sha256(open(p, "rb").read()).hexdigest(),
                )
        return out

    before = file_state()
    res = merge_into(
        spark, target, updates, keys=["k"], order_cols=["pri"],
        is_delete=F.col("dead"),  # num_buckets NOT passed: auto-detected
    )
    assert res["engine"] == "parquet-manifest"
    assert res["touched_buckets"] == sorted({b_upd, b_kill})
    assert res["num_buckets"] == N and res["rows"] is None

    expected = apply_lww(
        current.unionByName(updates),
        keys=["k"],
        order_cols=[F.col("pri")],
        is_delete=F.col("dead"),
    ).select("k", "pri", "v")
    got = read_merged_table(spark, target).select("k", "pri", "v")
    assert got.exceptAll(expected).isEmpty() and expected.exceptAll(got).isEmpty()
    # touched_rows = ALL survivors in the touched buckets: every key
    # already living in b_upd plus the new one; b_kill fully emptied.
    n_b_upd = sum(1 for b in bucket_of.values() if b == b_upd)
    assert res["touched_rows"] == n_b_upd + 1

    after = file_state()
    touched_prefixes = tuple(
        f"{BUCKET_COL}={b}{os.sep}" for b in (b_upd, b_kill)
    )
    untouched_before = {
        p: s for p, s in before.items()
        if p.startswith(BUCKET_COL + "=") and not p.startswith(touched_prefixes)
    }
    untouched_after = {
        p: s for p, s in after.items()
        if p.startswith(BUCKET_COL + "=") and not p.startswith(touched_prefixes)
    }
    assert untouched_before and untouched_before == untouched_after  # (c)
    assert read_merged_table(spark, target).where(  # (d)
        F.col(BUCKET_COL) == b_kill
    ).isEmpty()
    assert not os.path.exists(target + ".__tmp")

    # (e) replay: no state change, untouched buckets still byte-identical
    res2 = merge_into(
        spark, target, updates, keys=["k"], order_cols=["pri"],
        is_delete=F.col("dead"),
    )
    assert res2["touched_buckets"] == res["touched_buckets"]
    got2 = read_merged_table(spark, target).select("k", "pri", "v")
    assert got2.exceptAll(expected).isEmpty() and expected.exceptAll(got2).isEmpty()
    replay_after = file_state()
    assert {
        p: s for p, s in replay_after.items()
        if p.startswith(BUCKET_COL + "=") and not p.startswith(touched_prefixes)
    } == untouched_before

    # (f) a bucket filter on the resolved read prunes at the scan
    plan = (
        read_merged_table(spark, target)
        .where(F.col(BUCKET_COL).isin([b_upd]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and BUCKET_COL in plan.split(
        "PartitionFilters", 1
    )[1][:200]


def test_merge_into_input_guards(spark, tmp_path):
    """r11 review hardening — malformed inputs refuse loudly instead of
    silently corrupting: num_buckets < 1 (pmod-by-zero NULL buckets),
    empty order_cols (a silent target-always-wins no-op), key columns
    the batch does not carry, reserved internal column names (__del/__tgt_pri/__rk/
    __bucket would be overwritten then dropped), key DTYPE drift vs the
    pinned spec (xxhash64 is type-sensitive: the same logical key would
    hash into a different bucket space), and apply_lww's __rk."""
    import pytest
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import apply_lww, merge_into

    upd = spark.createDataFrame(
        [(1, 1, "a", False)], "k int, pri int, v string, dead boolean"
    )
    t = str(tmp_path / "g")
    with pytest.raises(ValueError, match="num_buckets must be >= 1"):
        merge_into(spark, t, upd, keys=["k"], order_cols=["pri"],
                   is_delete=F.col("dead"), num_buckets=0)
    with pytest.raises(ValueError, match="order_cols must be non-empty"):
        merge_into(spark, t, upd, keys=["k"], order_cols=[],
                   is_delete=F.col("dead"))
    with pytest.raises(ValueError, match=r"key columns \['kk'\] are not in the batch"):
        merge_into(spark, t, upd, keys=["kk"], order_cols=["pri"],
                   is_delete=F.col("dead"))
    with pytest.raises(ValueError, match="reserved columns"):
        merge_into(spark, t, upd.withColumn("__del", F.lit(1)),
                   keys=["k"], order_cols=["pri"], is_delete=F.col("dead"))
    # __gen joined the reserved set in r12: on a manifest target a data
    # column named __gen would shadow the generation partition dirs and
    # be silently erased by the resolver's drop(GEN_COL)
    with pytest.raises(ValueError, match="reserved columns.*__gen"):
        merge_into(spark, t, upd.withColumn("__gen", F.lit("g")),
                   keys=["k"], order_cols=["pri"], is_delete=F.col("dead"))
    with pytest.raises(ValueError, match="reserved column __rk"):
        apply_lww(upd.withColumn("__rk", F.lit(1)), keys=["k"],
                  order_cols=[F.col("pri")], is_delete=F.col("dead")).collect()

    # dtype drift: layout keyed on INT k, later batch arrives with
    # BIGINT k — same logical values, different xxhash64 buckets
    merge_into(spark, t, upd, keys=["k"], order_cols=["pri"],
               is_delete=F.col("dead"), num_buckets=4)
    drifted = upd.withColumn("k", F.col("k").cast("bigint"))
    with pytest.raises(ValueError, match="dtype drift"):
        merge_into(spark, t, drifted, keys=["k"], order_cols=["pri"],
                   is_delete=F.col("dead"))
    # cast back to the pinned type: accepted
    res = merge_into(spark, t, drifted.withColumn("k", F.col("k").cast("int")),
                     keys=["k"], order_cols=["pri"], is_delete=F.col("dead"))
    assert res["engine"] == "parquet-manifest"


def test_merge_into_creates_target_on_first_batch(spark, tmp_path):
    """merge_into on a missing target = first materialization: only
    non-tombstone winners land."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import merge_into, read_merged_table

    updates = spark.createDataFrame(
        [("k1", 1, "a", False), ("k1", 2, "b", False), ("k2", 1, "x", True)],
        "k string, pri int, v string, dead boolean",
    )
    target = str(tmp_path / "fresh")
    res = merge_into(
        spark, target, updates, keys=["k"], order_cols=["pri"], is_delete=F.col("dead")
    )
    got = read_merged_table(spark, target)
    rows = {(r["k"], r["v"]) for r in got.collect()}
    assert rows == {("k1", "b")} and got.count() == 1
    assert (res["num_buckets"], res["touched_rows"]) == (1, 1)


def test_merge_tie_break_total_ordering(spark, tmp_path):
    """VERDICT r7 #4: exact order-chain ties must resolve exactly as
    Delta's MERGE INTO would.  Crafted ties:

    - k1: an update exactly ties the stored target row on the full
      order chain → MERGE's strict source-newer condition keeps the
      TARGET; merge_into must agree (target-priority tiebreak), not
      pick an arbitrary union row.
    - k2: two update rows tie each other (no target row) → the source
      collapse of the simulated MERGE and merge_into resolve by the
      SAME xxhash64 row hash, so the two winners coincide.
    - k3/k4: NULL order values (r8 review) — NULL ranks OLDEST, so a
      non-NULL source supersedes a NULL-ordered target (k3) and a
      NULL-vs-NULL tie keeps the target (k4); a naive `s.pri > t.pri`
      MERGE condition would strand both.
    """
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import (
        apply_lww,
        merge_into,
        read_merged_table,
    )

    current = spark.createDataFrame(
        [("k1", 5, "tgt", False), ("k3", None, "tgt3", False), ("k4", None, "tgt4", False)],
        "k string, pri int, v string, dead boolean",
    )
    updates = spark.createDataFrame(
        [("k1", 5, "src", False), ("k2", 7, "a", False), ("k2", 7, "b", False),
         ("k3", 1, "src3", False), ("k4", None, "src4", False)],
        "k string, pri int, v string, dead boolean",
    )
    target = str(tmp_path / "ties")
    merge_into(  # stored state: the first batch
        spark, target, current, keys=["k"], order_cols=["pri"], is_delete=F.col("dead")
    )
    res = merge_into(
        spark, target, updates, keys=["k"], order_cols=["pri"], is_delete=F.col("dead")
    )
    assert res["engine"] == "parquet-manifest"
    got = {(r["k"], r["v"]) for r in read_merged_table(spark, target).collect()}

    # MERGE INTO simulation with the null-safe condition logic: collapse
    # the source with the shared row-hash tiebreak, then apply the
    # strict "source newer than target" rule per key.
    row_hash = F.xxhash64(*[F.col(c) for c in updates.columns])
    src = {
        r["k"]: r
        for r in apply_lww(
            updates, ["k"], [F.col("pri"), row_hash], is_delete=F.lit(False)
        ).collect()
    }
    def newer(s_pri, t_pri):  # null-safe strict "source newer", NULL = oldest
        if s_pri is None:
            return False
        return t_pri is None or s_pri > t_pri

    expected = set()
    for r in current.collect():
        s = src.pop(r["k"], None)
        if s is not None and newer(s["pri"], r["pri"]):
            expected.add((s["k"], s["v"]))  # whenMatchedUpdate
        else:
            expected.add((r["k"], r["v"]))  # tie or older: target kept
    expected |= {(s["k"], s["v"]) for s in src.values()}  # notMatchedInsert
    assert got == expected
    assert ("k1", "tgt") in got  # exact tie kept the target
    assert ("k3", "src3") in got  # non-NULL source supersedes NULL target
    assert ("k4", "tgt4") in got  # NULL-vs-NULL tie kept the target


def test_merge_tombstone_contract_source_only_null_safe(spark, tmp_path):
    """r8 continuation review: merge_into must agree with Delta's MERGE
    INTO on (a) a NULL is_delete on the winning update row — MERGE's
    matched clauses both no-fire on NULL (row kept/updated per
    coalesce-False), while a naive where(~NULL) would DROP the key; and
    (b) a stored row that happens to satisfy is_delete — MERGE
    physically cannot delete a target row without a newer matching
    source row, so the tombstone predicate must not be re-evaluated on
    target winners.  Both shapes here would have diverged before the
    fix."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import merge_into, read_merged_table

    target = str(tmp_path / "state")
    # stored state: k1 normal; k2 PHYSICALLY carries dead=True (stored
    # by a batch whose tombstone predicate was a different one) — a
    # target-side tombstone
    merge_into(
        spark, target,
        spark.createDataFrame(
            [("k1", 1, "a", False), ("k2", 5, "x", True)],
            "k string, pri int, v string, dead boolean",
        ),
        keys=["k"], order_cols=["pri"], is_delete=F.lit(False),
    )
    updates = spark.createDataFrame(
        [
            ("k1", 2, "b", None),   # strictly newer, NULL dead -> UPDATE, not delete
            ("k2", 1, "y", False),  # OLDER than stored k2 -> target row kept
        ],
        "k string, pri int, v string, dead boolean",
    )
    merge_into(spark, target, updates, keys=["k"], order_cols=["pri"], is_delete=F.col("dead"))
    got = {(r["k"], r["v"]) for r in read_merged_table(spark, target).collect()}
    # k1 updated (NULL coalesced to keep); k2's stored row survives even
    # though its own dead flag is True — only a newer source row deletes
    assert got == {("k1", "b"), ("k2", "x")}


def test_merge_into_schema_mismatch_raises_loudly(spark, tmp_path):
    """r6 review: a malformed update batch (wrong column name) must
    RAISE, not be silently treated as 'no target yet' — which would
    replace the whole table with just the bad batch."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import merge_into, read_merged_table

    target = str(tmp_path / "t")
    good = spark.createDataFrame(
        [("k1", 1, "a", False)], "k string, pri int, v string, dead boolean"
    )
    merge_into(
        spark, target, good, keys=["k"], order_cols=["pri"], is_delete=F.col("dead")
    )
    bad = spark.createDataFrame(
        [("k1", 2, "b", False)], "k string, pri int, WRONG string, dead boolean"
    )
    with pytest.raises(Exception, match="WRONG|unionByName|UNRESOLVED"):
        merge_into(
            spark, target, bad, keys=["k"], order_cols=["pri"], is_delete=F.col("dead")
        )
    # the existing table survived untouched
    rows = read_merged_table(spark, target).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("k1", "a")]


def test_merge_into_replaces_empty_target_dir(spark, tmp_path):
    """r6 review / ADVICE r7: a pre-existing target path that holds
    nothing (the empty-directory leftover) is a fresh target: the first
    merge materializes the manifest table inside it.  (A directory
    holding anything else is different: merge_into refuses it loudly —
    failing beats overwriting data it cannot identify.)"""
    import os

    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import merge_into, read_merged_table

    target = str(tmp_path / "t")
    os.makedirs(target)  # empty dir: current=None but path exists

    updates = spark.createDataFrame(
        [("k1", 1, "a", False)], "k string, pri int, v string, dead boolean"
    )
    res = merge_into(
        spark, target, updates, keys=["k"], order_cols=["pri"], is_delete=F.col("dead")
    )
    got = read_merged_table(spark, target)
    rows = {(r["k"], r["v"]) for r in got.collect()}
    assert rows == {("k1", "a")} and got.count() == 1
    assert res["seq"] == 1
    # the staging sibling was cleaned up afterwards
    assert not os.path.exists(target + ".__tmp")


def test_dispatch_commands_open_multimethod(spark):
    """A21/B10 (r8): the open handle-command multimethod analog —
    registered verbs route through their handler transform; names with
    no handler (including NULL) come back on the reject side for the
    dead-letter path, never silently dropped (broker.clj:55 dispatch,
    no-default error semantics)."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.commands import dispatch_commands

    cmds = spark.createDataFrame(
        [
            ("odm-import/insert-subject", "s1"),
            ("odm-import/remove-subject", "s2"),
            ("custom/unregistered-verb", "s3"),
            (None, "s4"),
        ],
        "name string, payload string",
    )
    handled, unhandled = dispatch_commands(
        cmds,
        {
            "odm-import/insert-subject": lambda df: df.withColumn("op", F.lit("upsert")),
            "odm-import/remove-subject": lambda df: df.withColumn("op", F.lit("tombstone")),
        },
    )
    assert {r["payload"] for r in handled["odm-import/insert-subject"].collect()} == {"s1"}
    assert [(r["payload"], r["op"]) for r in handled["odm-import/remove-subject"].collect()] == [
        ("s2", "tombstone")
    ]
    # reject side is TOTAL: unknown verb AND null name both land there
    assert {r["payload"] for r in unhandled.collect()} == {"s3", "s4"}


def test_remove_at_leaf_levels(spark):
    """Reference ``import_clinical_data.clj:51-52`` (remove-item-group
    carries {form-id, item-group-oid}), ``:68-69`` (remove-item carries
    {item-group-id, item-oid}), dispatched from ``:145-147`` and
    ``:116-118``.  Neither constructor fires on the gate corpus (the
    synthetic tx mixers never put an explicit remove at ig/item level —
    power audit r10), so pin them here: an ig-level remove emits its
    command and PRUNES its items (A14 at depth); an item-level remove
    emits remove-item with the value/data-type columns NULLed and no
    item-id (that param is update-only)."""
    odm = build_odm(
        spark,
        [(FILE, "S1", "SK01", "insert")],
        ses=[(FILE, "S1", "SK01", "SE1", None)],
        forms=[(FILE, "S1", "SK01", "SE1", "FM1", None)],
        igs=[
            (FILE, "S1", "SK01", "SE1", "FM1", "IG1", "remove"),
            (FILE, "S1", "SK01", "SE1", "FM1", "IG2", None),
        ],
        items=[
            # under the removed IG1: must be pruned, any tx
            (FILE, "S1", "SK01", "SE1", "FM1", "IG1", "I1", None, "string", "x"),
            # explicit leaf remove under the surviving IG2
            (FILE, "S1", "SK01", "SE1", "FM1", "IG2", "I2", "remove", "string", "y"),
            # sibling insert proves IG2's subtree otherwise lives
            (FILE, "S1", "SK01", "SE1", "FM1", "IG2", "I3", None, "integer", "7"),
        ],
    )
    cmds = generate_commands(odm, BATCH, SUB, persist=False)
    assert cmd_names(cmds) == [
        "odm-import/insert-form",
        "odm-import/insert-item",
        "odm-import/insert-item-group",
        "odm-import/insert-study-event",
        "odm-import/insert-subject",
        "odm-import/remove-item",
        "odm-import/remove-item-group",
    ]
    rows = {r["name"]: r for r in cmds.collect() if "remove" in r["name"]}
    rig = rows["odm-import/remove-item-group"]
    assert rig["item_group_oid"] == "IG1" and rig["item_oid"] is None
    ri = rows["odm-import/remove-item"]
    assert ri["item_oid"] == "I2" and ri["item_group_oid"] == "IG2"
    # remove-item payload is {item-group-id, item-oid, file-oid}: the
    # value/type columns are NULLed and item-id is update-only
    assert ri["value_canon"] is None
    assert ri["data_type"] is None
    assert ri["item_id"] is None
    # I1 under the removed ig emitted nothing
    assert cmds.where(F.col("item_oid") == "I1").count() == 0


def test_first_event_wins_breaks_ts_ties(spark):
    """A20 tie path (power audit r10): at the gate the first order
    column (line number / ts) is unique per cid, so the later tiebreak
    fields of BOTH first-event forms — the window's order_cols tail and
    min(struct)'s lexicographic walk past field one — never decide
    anything.  Craft a genuine tie: two events at the identical t whose
    winner only the second column can pick, plus a decoy where t alone
    decides.  Both forms must agree on the tied winner."""
    from lens_sds_batch_spark.plans.correlate import first_event_name_agg

    events = spark.createDataFrame(
        [
            ("e9", "c1", "late", 7, 9),
            ("e2", "c1", "loser", 1, 5),   # t ties with e1 ...
            ("e1", "c1", "winner", 1, 3),  # ... second col 3 < 5 decides
            ("e3", "c2", "first", 2, 9),   # decoy: t alone decides
            ("e4", "c2", "second", 3, 0),
        ],
        "id string, cid string, name string, t int, seq int",
    )
    w = first_event_per_cid(events, [F.col("t"), F.col("seq")])
    got_window = {r["cid"]: r["name"] for r in w.collect()}
    agg = first_event_name_agg(events, ["t", "seq"])
    got_agg = {r["cid"]: r["name"] for r in agg.collect()}
    assert got_window == {"c1": "winner", "c2": "first"}
    assert got_agg == got_window
