"""End-to-end flagship pipeline: derived ODM tree → tx resolution →
command generation, checked against the independently-written DuckDB
oracle (the same check the driver performs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lens_sds_batch_spark.oracle import odm_commands_sql
from lens_sds_batch_spark.plans.commands import generate_commands, resolve_and_identify
from lens_sds_batch_spark.plans.odm import (
    BATCH_CMD_ID,
    SUB,
    derive_odm_from_tpch,
    fused_commands,
    nest,
    normalize,
)

from .conftest import SF_SMOKE
from .oracle_utils import assert_match


@pytest.fixture(scope="module")
def odm(spark):
    return derive_odm_from_tpch(spark, SF_SMOKE)


def test_tx_resolution_semantics(spark, odm):
    r = resolve_and_identify(odm)
    # children of removed subjects are pruned (remove does not cascade)
    removed = r.subjects.where(F.col("rtx") == "remove").select("subject_key")
    leaked = r.study_events.join(removed, "subject_key", "inner")
    assert leaked.count() == 0
    # null tx_type inherits; top default is insert
    assert r.subjects.where(F.col("rtx").isNull()).count() == 0
    inherited = r.study_events.where(F.col("tx_type").isNull() & (F.col("rtx") != "insert"))
    # inherited non-insert rtx must come from an upsert/update parent
    parents = r.subjects.where(F.col("rtx").isin("upsert", "update")).select("subject_key")
    assert inherited.join(parents, "subject_key", "left_anti").count() == 0


def test_commands_match_duckdb_oracle(spark, odm):
    cmds = generate_commands(odm, BATCH_CMD_ID, SUB)
    assert_match(cmds, odm_commands_sql(), SF_SMOKE)


def test_nest_normalize_roundtrip(spark, odm):
    """A9: nested array-of-struct form explodes back to identical levels."""
    back = normalize(nest(odm))
    for name in ("subjects", "study_events", "forms", "item_groups", "items"):
        a, b = getattr(odm, name), getattr(back, name)
        assert a.count() == b.count(), name
        assert a.exceptAll(b).count() == 0, name
        assert b.exceptAll(a).count() == 0, name


def test_command_generation_idempotent(spark, odm):
    """Deterministic ids ⇒ re-running the pipeline yields the same set
    (the reference's idempotent-replay contract, SURVEY.md §4)."""
    a = generate_commands(odm, BATCH_CMD_ID, SUB).select("cmd_id")
    b = generate_commands(odm, BATCH_CMD_ID, SUB).select("cmd_id")
    assert a.exceptAll(b).count() == 0
    # and ids are unique across the whole command set
    total = a.count()
    assert a.distinct().count() == total


@pytest.mark.parametrize("flavor", ["md5", "sha1"])
def test_fused_equals_generic(spark, odm, flavor):
    """The flagship path (``fused_commands``: join-free per-row tx
    resolution and chain hashes at lineitem grain, then the SINGLE-PASS
    generator emitting forms/item-groups/items in one
    array→filter→inline scan of the form-grain frontier) must be row-
    AND schema-identical to the generic normalized path
    (``resolve_and_identify``'s parent joins) — this is what licenses
    the flagship to use the single-pass plan."""
    generic = generate_commands(odm, BATCH_CMD_ID, SUB, persist=False, flavor=flavor)
    single_pass = fused_commands(spark, SF_SMOKE, BATCH_CMD_ID, SUB, flavor=flavor)
    assert generic.schema == single_pass.schema
    # equal multiset sizes + empty one-way multiset difference ⇒ equal
    n = generic.count()
    assert n == single_pass.count()
    assert generic.exceptAll(single_pass).count() == 0


def test_uuid5_flavor_pins(spark, odm):
    """sha1 flavor: entity-id chain equals the python uuid5 reference
    implementation, and the cmd id reproduces the reference's
    ``gen-cmd-id`` byte encoding — name + sorted params flattened
    (import_clinical_data.clj:288-289), uuid params as 16 RAW BYTES
    (util.clj UUIDNameBytes), keywords as ':kw' UTF-8."""
    from lens_sds_batch_spark.functions.keys import NIL_UUID, Kw, UuidBytes, uuid5_py
    from lens_sds_batch_spark.plans.commands import generate_commands as gc

    cmds = gc(odm, BATCH_CMD_ID, SUB, persist=False, flavor="sha1")
    row = (
        cmds.where(F.col("name") == "odm-import/insert-subject")
        .orderBy("subject_key")
        .limit(1)
        .collect()[0]
    )
    study_id = uuid5_py(NIL_UUID, [row["study_oid"]])
    assert row["parent_id"] == study_id
    import uuid as _u

    u = _u.UUID(row["cmd_id"])
    assert u.version == 5 and u.variant == _u.RFC_4122
    # full gen-cmd-id byte parity (sorted: file-oid < study-id < subject-key)
    expected = uuid5_py(
        BATCH_CMD_ID,
        [
            Kw("odm-import/insert-subject"),
            Kw("file-oid"), row["file_oid"],
            Kw("study-id"), UuidBytes(study_id),
            Kw("subject-key"), row["subject_key"],
        ],
    )
    assert row["cmd_id"] == expected
