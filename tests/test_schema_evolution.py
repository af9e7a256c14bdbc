"""Round-13 explicit schema evolution (r12 verdict #1): the operation
the schema-pin drift refusal points at.  add = NULL-backed column
append (a metadata-only manifest commit); widen = lossless type growth
as a full rewrite committed through the same manifest protocol.

Crash states are constructed by monkeypatching the commit seam, the
same discipline as test_merge_protocols' kill-point pins.  Reference
semantics anchor: src/lens/broker.clj:28-51 (the reference validates
envelope shapes at runtime and delegates entity-schema change to its
store — evolve_schema supplies that operation for the portable
store).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lens_sds_batch_spark.plans import merge as merge_mod
from lens_sds_batch_spark.plans.merge import (
    evolve_schema,
    merge_into,
    read_merged_table,
    rebucket,
    vacuum_merged_table,
)

SCHEMA = "k string, pri int, v string, dead boolean"
SCHEMA_EXT = SCHEMA + ", extra string"
SCHEMA_WIDE = "k string, pri bigint, v string, dead boolean, extra string"


def _merge(spark, target, rows, schema=SCHEMA, **kw):
    return merge_into(
        spark, target, spark.createDataFrame(rows, schema),
        keys=["k"], order_cols=["pri"], is_delete=F.col("dead"), **kw,
    )


def _rows(spark, target, **kw):
    df = read_merged_table(spark, target, **kw)
    return (
        {}
        if df is None
        else {
            r["k"]: tuple(
                r[c] for c in df.columns if c not in ("k", "dead", "__bucket")
            )
            for r in df.collect()
        }
    )


FLAVORS = [
    pytest.param({"num_buckets": 4, "protocol": "manifest"}, id="manifest"),
]


@pytest.mark.parametrize("kw", FLAVORS)
def test_add_column_roundtrip_all_flavors(spark, tmp_path, kw):
    """merge -> add -> (old rows read typed NULL) -> merge a batch that
    CARRIES the new column -> final state correct, incl. LWW overwrite
    of a pre-evolve row by a post-evolve row."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False), ("k2", 1, "b", False)], **kw)
    res = evolve_schema(spark, target, add={"extra": "string"})
    assert res["added"] == ["extra"] and res["widened"] == {}
    assert res["rewritten"] is False  # metadata-only commit
    # pre-evolve rows read the added column as typed NULL
    assert _rows(spark, target) == {
        "k1": (1, "a", None), "k2": (1, "b", None),
    }
    # post-evolve batch carries the column and round-trips
    _merge(
        spark, target,
        [("k2", 2, "b2", False, "x2"), ("k3", 2, "c", False, "x3")],
        schema=SCHEMA_EXT,
    )
    assert _rows(spark, target) == {
        "k1": (1, "a", None), "k2": (2, "b2", "x2"), "k3": (2, "c", "x3"),
    }
    # an old-shape batch (no extra) is refused: the pin is exact-schema
    with pytest.raises(ValueError, match="missing \\['extra'\\]"):
        _merge(spark, target, [("k4", 3, "d", False)])


@pytest.mark.parametrize("kw", FLAVORS)
def test_widen_column_all_flavors(spark, tmp_path, kw):
    """widen pri int->bigint: full rewrite, values preserved exactly,
    post-widen batches must carry the wide type (narrow refused)."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False), ("k2", 2, "b", False)], **kw)
    evolve_schema(spark, target, add={"extra": "string"})
    res = evolve_schema(spark, target, widen={"pri": "bigint"})
    assert res["widened"] == {"pri": "bigint"} and res["rewritten"] is True
    out = read_merged_table(spark, target)
    assert dict(out.dtypes)["pri"] == "bigint"
    assert _rows(spark, target) == {"k1": (1, "a", None), "k2": (2, "b", None)}
    # post-widen merge with the wide batch schema
    _merge(
        spark, target, [("k1", 5, "a2", False, "y")], schema=SCHEMA_WIDE,
    )
    assert _rows(spark, target)["k1"] == (5, "a2", "y")
    # a still-narrow batch is refused as retyped
    with pytest.raises(ValueError, match="retyped"):
        _merge(spark, target, [("k9", 9, "z", False, "w")], schema=SCHEMA_EXT)


def test_add_and_widen_one_call_manifest(spark, tmp_path):
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)],
           num_buckets=4, protocol="manifest")
    res = evolve_schema(
        spark, target, add={"extra": "string"}, widen={"pri": "bigint"},
    )
    assert res["rewritten"] is True  # widen forces the rewrite; add rides it
    assert _rows(spark, target) == {"k1": (1, "a", None)}
    assert dict(read_merged_table(spark, target).dtypes)["pri"] == "bigint"


def test_drift_refusal_names_the_op(spark, tmp_path):
    """r12 verdict #1 'done' criterion: the schema-drift refusal's
    remediation names evolve_schema instead of a manual rebuild."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=4)
    with pytest.raises(ValueError, match="evolve_schema"):
        _merge(spark, target, [("k2", 2, "b", False, "x")], schema=SCHEMA_EXT)


def test_refusals(spark, tmp_path):
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)],
           num_buckets=4, protocol="manifest")
    with pytest.raises(ValueError, match="at least one"):
        evolve_schema(spark, target)
    with pytest.raises(ValueError, match="both add and widen"):
        evolve_schema(spark, target, add={"x": "int"}, widen={"x": "bigint"})
    # r14: rename refuses WITH the add+backfill-copy recipe spelled out
    # (before any other validation — even alongside a valid add)
    with pytest.raises(ValueError, match="backfill copy"):
        evolve_schema(spark, target, rename={"v": "value"})
    with pytest.raises(ValueError, match="drop \\+ add"):
        evolve_schema(spark, target, add={"x": "int"}, rename={"v": "value"})
    with pytest.raises(ValueError, match="already exist"):
        evolve_schema(spark, target, add={"v": "string"})
    with pytest.raises(ValueError, match="reserved"):
        evolve_schema(spark, target, add={"__bucket": "int"})
    with pytest.raises(ValueError, match="do not exist"):
        evolve_schema(spark, target, widen={"nope": "bigint"})
    with pytest.raises(ValueError, match="key columns"):
        evolve_schema(spark, target, widen={"k": "string"})
    with pytest.raises(ValueError, match="already int"):
        evolve_schema(spark, target, widen={"pri": "int"})
    # narrowing and lossy casts
    with pytest.raises(ValueError, match="not a lossless widening"):
        evolve_schema(spark, target, widen={"pri": "smallint"})
    with pytest.raises(ValueError, match="not a lossless widening"):
        evolve_schema(spark, target, widen={"v": "int"})
    # state untouched by all the refusals
    assert _rows(spark, target) == {"k1": (1, "a")}


def test_widening_lattice():
    from lens_sds_batch_spark.plans.merge import _is_widening

    assert _is_widening("int", "bigint")
    assert _is_widening("tinyint", "smallint")
    assert _is_widening("float", "double")
    assert _is_widening("int", "double")
    assert not _is_widening("bigint", "double")  # 2^53 rounding
    assert not _is_widening("bigint", "int")
    assert not _is_widening("double", "float")
    assert _is_widening("decimal(10,2)", "decimal(12,2)")
    assert _is_widening("decimal(10,2)", "decimal(14,4)")
    assert not _is_widening("decimal(10,2)", "decimal(10,4)")  # int digits shrink
    assert not _is_widening("decimal(10,2)", "decimal(12,1)")  # scale shrink
    assert _is_widening("int", "decimal(12,2)")
    assert not _is_widening("int", "decimal(9,0)")  # 10 digits don't fit
    assert not _is_widening("float", "decimal(20,10)")  # binary fractions
    assert not _is_widening("string", "int")


def test_kill_point_mid_evolve_manifest(spark, tmp_path, monkeypatch):
    """Crash at the commit point of a widen rewrite: the staged
    generations are stranded garbage, the table reads as exactly
    pre-evolve, the replayed evolution converges, and a vacuum
    collects the strands."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False), ("k2", 2, "b", False)],
           num_buckets=4, protocol="manifest")
    before = _rows(spark, target)
    real_commit = merge_mod._commit_manifest

    def boom(*a, **kw):
        raise RuntimeError("kill-point: died before the manifest commit")

    monkeypatch.setattr(merge_mod, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="kill-point"):
        evolve_schema(spark, target, widen={"pri": "bigint"})
    monkeypatch.setattr(merge_mod, "_commit_manifest", real_commit)
    # pre-evolve state intact, schema unchanged
    assert _rows(spark, target) == before
    assert dict(read_merged_table(spark, target).dtypes)["pri"] == "int"
    # replay converges; the stranded generations are vacuum fodder
    evolve_schema(spark, target, widen={"pri": "bigint"})
    assert _rows(spark, target) == before
    assert dict(read_merged_table(spark, target).dtypes)["pri"] == "bigint"
    vac = vacuum_merged_table(spark, target, grace_sec=0.0)
    assert vac["gens_deleted"] >= 1  # the kill-point strands
    assert _rows(spark, target) == before


def test_kill_point_metadata_add_manifest(spark, tmp_path, monkeypatch):
    """Crash before the metadata-only add's single commit: nothing
    changed at all (the add IS the commit)."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)],
           num_buckets=4, protocol="manifest")
    monkeypatch.setattr(
        merge_mod, "_commit_manifest",
        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("kill-point")),
    )
    with pytest.raises(RuntimeError, match="kill-point"):
        evolve_schema(spark, target, add={"extra": "string"})
    monkeypatch.undo()
    assert set(dict(read_merged_table(spark, target).dtypes)) == {
        "k", "pri", "v", "dead", "__bucket"
    }
    evolve_schema(spark, target, add={"extra": "string"})
    assert _rows(spark, target) == {"k1": (1, "a", None)}


def test_kill_point_compaction_commit(spark, tmp_path, monkeypatch):
    """Crash at the compaction's manifest commit: the table still reads
    the pre-compaction generations, the staged compacted generations
    are vacuum fodder, and the replayed compaction converges."""
    from lens_sds_batch_spark.plans.merge import (
        compact_merged_table,
        vacuum_merged_table,
    )

    target = str(tmp_path / "t")
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, None)
    spark.conf.set(coalesce_key, "false")
    try:
        _merge(spark, target,
               [(f"k{i}", 1, "v" * 30, False) for i in range(200)],
               num_buckets=2, protocol="manifest")
    finally:
        spark.conf.set(coalesce_key, prev if prev is not None else "true")
    before = _rows(spark, target)

    real = merge_mod._commit_manifest
    monkeypatch.setattr(
        merge_mod, "_commit_manifest",
        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("kill-point")),
    )
    with pytest.raises(RuntimeError, match="kill-point"):
        compact_merged_table(spark, target, target_file_bytes=1 << 30)
    monkeypatch.setattr(merge_mod, "_commit_manifest", real)
    assert _rows(spark, target) == before  # pre-compaction state intact

    res = compact_merged_table(spark, target, target_file_bytes=1 << 30)
    assert sorted(res["compacted_buckets"]) == ["0", "1"]
    assert _rows(spark, target) == before
    vac = vacuum_merged_table(spark, target, grace_sec=0.0)
    # superseded fat gens + the kill-point strands are all collected
    assert vac["gens_deleted"] >= 3
    assert _rows(spark, target) == before


def test_snapshot_preserves_pre_evolve_schema(spark, tmp_path):
    """A pre-evolve snapshot resolves through the OLD manifest and its
    OLD pin: no added column, narrow type — time travel is schema
    travel too."""
    target = str(tmp_path / "t")
    r1 = _merge(spark, target, [("k1", 1, "a", False)],
                num_buckets=4, protocol="manifest")
    evolve_schema(spark, target, add={"extra": "string"})
    _merge(spark, target, [("k1", 2, "b", False, "x")], schema=SCHEMA_EXT)
    snap = read_merged_table(spark, target, as_of_seq=r1["seq"])
    assert "extra" not in snap.columns
    assert {r["k"]: r["v"] for r in snap.collect()} == {"k1": "a"}
    assert _rows(spark, target) == {"k1": (2, "b", "x")}


def test_evolve_takes_the_writer_lease(spark, tmp_path):
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)], num_buckets=4)
    lease = target + ".__lease"
    with open(lease, "w") as f:
        f.write("{}")
    try:
        with pytest.raises(IOError, match="another writer holds the lease"):
            evolve_schema(spark, target, add={"extra": "string"})
    finally:
        import os

        os.remove(lease)
    evolve_schema(spark, target, add={"extra": "string"})
    assert _rows(spark, target) == {"k1": (1, "a", None)}


def test_rebucket_after_metadata_add_conforms(spark, tmp_path):
    """A rebucket between a metadata-only add and the first physical
    write of the new column must conform the old files to the pin (the
    read inside rebucket), not union mixed schemas listing-order-
    dependently."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False), ("k2", 1, "b", False)],
           num_buckets=4)
    evolve_schema(spark, target, add={"extra": "string"})
    rebucket(spark, target, 2)
    assert _rows(spark, target) == {"k1": (1, "a", None), "k2": (1, "b", None)}
    _merge(spark, target, [("k3", 2, "c", False, "z")], schema=SCHEMA_EXT)
    assert _rows(spark, target)["k3"] == (2, "c", "z")


def test_no_table_plain_refuses(spark, tmp_path):
    with pytest.raises(ValueError, match="no table at"):
        evolve_schema(spark, str(tmp_path / "missing"), add={"x": "int"})
    # a plain parquet dir is not a merge target: refused, never rewritten
    plain = str(tmp_path / "plain")
    spark.createDataFrame([("k1", 1, "a", False)], SCHEMA).write.parquet(plain)
    with pytest.raises(ValueError, match="not a manifest-commit target"):
        evolve_schema(spark, plain, add={"x": "int"})


def test_add_complex_typed_column(spark, tmp_path):
    """Adding an array<float> column (the embedding-column shape a
    training-data entity store actually grows): metadata-only on the
    manifest flavor, typed-NULL backfill for pre-add rows, arrays
    round-trip through the pin check and the resolver."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)],
           num_buckets=4, protocol="manifest")
    res = evolve_schema(spark, target, add={"emb": "array<float>"})
    assert res["rewritten"] is False
    out = read_merged_table(spark, target)
    assert dict(out.dtypes)["emb"] == "array<float>"
    assert out.collect()[0]["emb"] is None  # typed-NULL backfill
    _merge(
        spark, target, [("k2", 2, "b", False, [0.5, 1.5])],
        schema=SCHEMA + ", emb array<float>",
    )
    got = {r["k"]: r["emb"] for r in read_merged_table(spark, target).collect()}
    assert got["k1"] is None and got["k2"] == [0.5, 1.5]


def test_dtype_strings_validated_and_canonicalized(spark, tmp_path):
    """r13 self-review: the metadata-only paths pin the dtype STRING —
    a typo'd type must refuse up front (not pin silently and crash at
    the conform-read), and a case/spacing variant must canonicalize to
    the DataFrame.dtypes spelling so the pin's string-equality checks
    stay clean."""
    target = str(tmp_path / "t")
    _merge(spark, target, [("k1", 1, "a", False)],
           num_buckets=4, protocol="manifest")
    with pytest.raises(ValueError, match="invalid Spark dtype 'strng'"):
        evolve_schema(spark, target, add={"extra": "strng"})
    # nothing was pinned by the refusal: a conforming merge still passes
    _merge(spark, target, [("k2", 1, "b", False)])

    # case-variant dtype canonicalizes to the dtypes spelling...
    res = evolve_schema(spark, target, add={"extra": "STRING"})
    assert res["added"] == ["extra"]
    # ...so a batch whose dtypes read 'string' matches the pin
    _merge(spark, target, [("k3", 2, "c", False, "x")], schema=SCHEMA_EXT)
    assert _rows(spark, target)["k3"] == (2, "c", "x")
    res2 = evolve_schema(spark, target, widen={"pri": "BIGINT"})
    assert res2["widened"] == {"pri": "bigint"}
    assert dict(read_merged_table(spark, target).dtypes)["pri"] == "bigint"


def test_stream_restart_with_schema_evolution(spark, tmp_path):
    """The operational shape evolution exists for: a streaming
    foreachBatch merge sink runs at schema v1, the pipeline is stopped,
    the target is evolved (add), and the RESTARTED pipeline reads with
    the v2 schema — old files contribute typed NULLs for the new
    column (parquet missing-column semantics), every replayed batch
    passes the pin, replays stay idempotent under LWW, and the resolver
    shows v1-era winners with NULL site and v2 winners with values."""
    import os

    src = str(tmp_path / "src")
    target = str(tmp_path / "t")
    os.makedirs(src)
    v1 = "k string, pri int, v string"
    v2 = v1 + ", site string"

    spark.createDataFrame(
        [("k1", 1, "a"), ("k2", 1, "b")], v1
    ).coalesce(1).write.mode("append").parquet(src)

    def run_stream(schema):
        def sink(batch_df, _epoch):
            merge_into(
                spark, target, batch_df, keys=["k"], order_cols=["pri"],
                is_delete=F.lit(False),
                num_buckets=4, protocol="manifest",
            )

        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(sink).start()
        )
        q.processAllAvailable()
        q.stop()

    run_stream(v1)
    evolve_schema(spark, target, add={"site": "string"})
    # v2 files land; the restarted (checkpoint-less) stream replays the
    # v1 files too — they read site as NULL under the v2 schema and the
    # idempotent LWW replay converges
    spark.createDataFrame(
        [("k2", 2, "b2", "S1"), ("k3", 2, "c", "S2")], v2
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream(v2)

    got = {
        r["k"]: (r["pri"], r["v"], r["site"])
        for r in read_merged_table(spark, target).collect()
    }
    assert got == {
        "k1": (1, "a", None),
        "k2": (2, "b2", "S1"),
        "k3": (2, "c", "S2"),
    }


def test_checkpointed_stream_restart_after_evolution(spark, tmp_path):
    """r14 (VERDICT r13 #5), the production shape: a CHECKPOINTED
    foreachBatch merge stream is stopped, the sink target is evolved
    (metadata-only add) BETWEEN restarts, and the stream resumes from
    the SAME checkpoint.  Pins, in order:

    1. a restart that keeps the OLD v1 read schema is REFUSED loudly —
       its first batch lacks the pinned new column, so merge_into's
       drift gate raises through the query (the remediation message
       names evolve_schema; the operational fix is exactly pin #2);
    2. the failed batch was NOT committed to the checkpoint: the v2
       restart replays it (offsets resume at the last committed batch,
       not past the failure);
    3. the v2-schema restart processes ONLY files the checkpoint has
       not committed — the v1-era files are NOT re-read (this is what
       distinguishes the checkpointed shape from
       test_stream_restart_with_schema_evolution's full replay);
    4. the final resolver state is the LWW model with typed-NULL site
       on v1-era winners."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "src")
    target = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    v1 = "k string, pri int, v string"
    v2 = v1 + ", site string"

    def run_stream(schema, record=None, expect_fail=None):
        def sink(batch_df, _epoch):
            if record is not None and not batch_df.isEmpty():
                record.append({r["k"] for r in batch_df.select("k").collect()})
            merge_into(
                spark, target, batch_df, keys=["k"], order_cols=["pri"],
                is_delete=F.lit(False), num_buckets=4, protocol="manifest",
            )

        q = (
            spark.readStream.schema(schema).parquet(src)
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
        [("k1", 1, "a"), ("k2", 1, "b")], v1
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream(v1)

    evolve_schema(spark, target, add={"site": "string"})
    spark.createDataFrame(
        [("k2", 2, "b2", "S1"), ("k3", 2, "c", "S2")], v2
    ).coalesce(1).write.mode("append").parquet(src)

    # pin 1: resuming with the stale v1 read schema refuses loudly —
    # the new files' batch lacks the pinned column
    run_stream(v1, expect_fail="drift")

    # pins 2+3: the v2 restart resumes from the same checkpoint; the
    # failed batch replays, the v1-era files do not
    replayed: list[set] = []
    run_stream(v2, record=replayed)
    assert replayed, "the failed batch was not replayed after restart"
    seen = set().union(*replayed)
    assert "k3" in seen and "k2" in seen
    assert "k1" not in seen, "checkpointed restart re-read committed files"

    got = {
        r["k"]: (r["pri"], r["v"], r["site"])
        for r in read_merged_table(spark, target).collect()
    }
    assert got == {
        "k1": (1, "a", None),
        "k2": (2, "b2", "S1"),
        "k3": (2, "c", "S2"),
    }
