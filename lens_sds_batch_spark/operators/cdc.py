"""Oracle-checked queries exercising the CDC-shaped plans:
LWW merge application (plans/merge.py), command↔event correlation +
first-event-wins (plans/correlate.py), success-gated cascade semi-join
(reference A11), and the dead-letter split (A22).

Inputs are derived deterministically from the testdata tables so every
query has an exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import NIL_UUID, uuid3_str_col
from ..oracle import duck_fmt
from ..plans.correlate import correlate, first_event_name_agg
from ..plans.merge import apply_lww
from ..sources.parquet import fan_out, load_events, load_table

NIL_HEX = "0" * 32


def merge_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a CDC stream keyed by user_id: last write wins,
    event_type='error' acts as the tombstone (A13/A14 application)."""
    ev = load_events(spark, sf_dir)
    merged = apply_lww(
        ev,
        keys=["user_id"],
        order_cols=[F.col("ts_ns"), F.col("event_id")],
        is_delete=F.col("event_type") == "error",
    )
    return merged.select(
        "user_id", "event_id", F.expr("ts_ns div 1000000000").alias("ts_epoch"), "event_type", "value"
    )


MERGE_LWW_SQL = """
SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_epoch, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rk
  FROM events
)
WHERE rk = 1 AND event_type <> 'error'
ORDER BY user_id
"""


def _orders_commands(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        uuid3_str_col(NIL_UUID, [F.lit("CMD"), F.col("o_orderkey")]).alias("cmd_id"),
        "o_orderkey",
    )


def _lineitem_events(spark, sf_dir):
    # fan_out before the 600k per-row md5 uuids + the min(struct)
    # partial aggregate (r14-opt: this stage read 2.3 s on 1 effective
    # core in both correlate_first_event and cdc_guard_pack)
    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    name = (
        F.when((F.col("l_orderkey") + F.col("l_linenumber") + F.col("l_partkey")) % 7 < 3, "created")
        .when((F.col("l_orderkey") + F.col("l_linenumber") + F.col("l_partkey")) % 7 < 6, "updated")
        .otherwise("error")
    )
    return li.select(
        uuid3_str_col(NIL_UUID, [F.lit("CMD"), F.col("l_orderkey")]).alias("cid"),
        F.col("l_linenumber").alias("t"),
        name.alias("name"),
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
    )


def correlate_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 end-to-end: command per order, events per lineitem (cid =
    derived command id), first event by (t, tiebreaks) wins; orders
    with no lineitems -> 'timeout'.

    Uses the map-side-combinable min(struct) agg form
    (``first_event_name_agg``); the oracle ranks with the window form."""
    cmds = _orders_commands(spark, sf_dir)
    evs = _lineitem_events(spark, sf_dir)
    first = first_event_name_agg(evs, ["t", "l_partkey", "l_suppkey", "l_extendedprice"])
    # no trailing orderBy (driver compare is order-insensitive): the
    # sort's range-boundary sampling re-executes the un-shuffle-bounded
    # command/join side — measured 3.2s -> 2.5s warm, 7.1s -> 2.5s cold
    # at sf0.1
    return correlate(cmds, first).select("cmd_id", "o_orderkey", "status")


CORRELATE_SQL = f"""
WITH cmds AS (
  SELECT {duck_fmt('__h')} AS cmd_id, o_orderkey
  FROM (SELECT md5('{NIL_HEX}' || 'CMD' || CAST(o_orderkey AS VARCHAR)) AS __h, o_orderkey FROM orders)
),
evs AS (
  SELECT {duck_fmt('__h')} AS cid, l_linenumber AS t,
         CASE WHEN (l_orderkey + l_linenumber + l_partkey) % 7 < 3 THEN 'created'
              WHEN (l_orderkey + l_linenumber + l_partkey) % 7 < 6 THEN 'updated'
              ELSE 'error' END AS name,
         l_partkey, l_suppkey, l_extendedprice
  FROM (SELECT md5('{NIL_HEX}' || 'CMD' || CAST(l_orderkey AS VARCHAR)) AS __h, * FROM lineitem)
),
first_ev AS (
  SELECT cid, name FROM (
    SELECT cid, name,
           row_number() OVER (PARTITION BY cid ORDER BY t, l_partkey, l_suppkey, l_extendedprice, name) AS rk
    FROM evs
  ) WHERE rk = 1
)
SELECT cmd_id, o_orderkey, coalesce(name, 'timeout') AS status
FROM cmds LEFT JOIN first_ev ON cmd_id = cid
ORDER BY o_orderkey
"""


def gated_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's success-gated cascade as a semi-join: lineitem 'children'
    proceed only when their parent order's first event is a success
    (created/updated) — the batch form of 'await success, then
    recurse'."""
    cmds = _orders_commands(spark, sf_dir)
    evs = _lineitem_events(spark, sf_dir)
    first = first_event_name_agg(evs, ["t", "l_partkey", "l_suppkey", "l_extendedprice"])
    ok = (
        correlate(cmds, first)
        .where(F.col("status").isin("created", "updated"))
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    gated = li.join(ok, li.l_orderkey == ok.o_orderkey, "left_semi")
    return (
        gated.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_children"))
    )


GATED_CASCADE_SQL = f"""
WITH cmds AS (
  SELECT {duck_fmt('__h')} AS cmd_id, o_orderkey
  FROM (SELECT md5('{NIL_HEX}' || 'CMD' || CAST(o_orderkey AS VARCHAR)) AS __h, o_orderkey FROM orders)
),
evs AS (
  SELECT {duck_fmt('__h')} AS cid, l_linenumber AS t,
         CASE WHEN (l_orderkey + l_linenumber + l_partkey) % 7 < 3 THEN 'created'
              WHEN (l_orderkey + l_linenumber + l_partkey) % 7 < 6 THEN 'updated'
              ELSE 'error' END AS name,
         l_partkey, l_suppkey, l_extendedprice
  FROM (SELECT md5('{NIL_HEX}' || 'CMD' || CAST(l_orderkey AS VARCHAR)) AS __h, * FROM lineitem)
),
first_ev AS (
  SELECT cid, name FROM (
    SELECT cid, name,
           row_number() OVER (PARTITION BY cid ORDER BY t, l_partkey, l_suppkey, l_extendedprice, name) AS rk
    FROM evs
  ) WHERE rk = 1
),
ok AS (
  SELECT o_orderkey FROM cmds JOIN first_ev ON cmd_id = cid
  WHERE name IN ('created', 'updated')
)
SELECT l_orderkey, count(*) AS n_children
FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ok)
GROUP BY l_orderkey ORDER BY l_orderkey
"""


def dead_letter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22's validation split over the events.props JSON payload, with
    the reference's retryable-vs-fatal distinction (``broker.clj:62-63``
    returns ``{:error … :requeue bool}``; ``:87-95`` requeues retryable
    failures and dead-letters the rest):

    - valid       (k in [0,50])  — ack
    - transient   (k in (50,75]) — resource-style failure, retryable:
                                   the requeue path
    - dead_letter (otherwise)    — validation failure, fatal
    - undecodable (k null)       — decode failure, fatal
    """
    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    routed = ev.select(
        "event_type",
        F.when(k.isNull(), "undecodable")
        .when((k >= 0) & (k <= 50), "valid")
        .when((k > 50) & (k <= 75), "transient")
        .otherwise("dead_letter")
        .alias("route"),
    ).withColumn("retryable", F.col("route") == "transient")
    return (
        routed.groupBy("event_type", "route", "retryable")
        .agg(F.count(F.lit(1)).alias("n"))
    )


DEAD_LETTER_SQL = """
SELECT event_type, route, route = 'transient' AS retryable, count(*) AS n
FROM (
  SELECT event_type,
         CASE WHEN json_extract(props, '$.k') IS NULL THEN 'undecodable'
              WHEN CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 0 AND 50 THEN 'valid'
              WHEN CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 51 AND 75 THEN 'transient'
              ELSE 'dead_letter' END AS route
  FROM events
)
GROUP BY 1, 2, 3 ORDER BY event_type, route
"""


def cdc_guard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 + A22 guards in one CORRECTNESS row: the success-gated
    cascade and the retryable-vs-fatal dead-letter split,
    union-harmonized onto (kind, k1, s1, s2, b1, v1) — each arm is the
    unchanged original operator (see COVERAGE.md)."""
    nl = lambda t, n: F.lit(None).cast(t).alias(n)  # noqa: E731
    cascade = gated_cascade(spark, sf_dir).select(
        F.lit("cascade").alias("kind"),
        F.col("l_orderkey").cast("bigint").alias("k1"),
        nl("string", "s1"),
        nl("string", "s2"),
        nl("boolean", "b1"),
        F.col("n_children").cast("bigint").alias("v1"),
    )
    dls = dead_letter_split(spark, sf_dir).select(
        F.lit("dead_letter").alias("kind"),
        nl("bigint", "k1"),
        F.col("event_type").alias("s1"),
        F.col("route").alias("s2"),
        F.col("retryable").alias("b1"),
        F.col("n").cast("bigint").alias("v1"),
    )
    # no trailing orderBy: the sort's sampling pass would run both
    # union arms twice (order-insensitive driver compare)
    return cascade.unionByName(dls)


CDC_GUARD_PACK_SQL = f"""
SELECT 'cascade' AS kind, CAST(l_orderkey AS BIGINT) AS k1,
       CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2,
       CAST(NULL AS BOOLEAN) AS b1, CAST(n_children AS BIGINT) AS v1
FROM ({GATED_CASCADE_SQL.strip().rstrip(';')})
UNION ALL
SELECT 'dead_letter' AS kind, CAST(NULL AS BIGINT) AS k1,
       event_type AS s1, route AS s2, retryable AS b1, CAST(n AS BIGINT) AS v1
FROM ({DEAD_LETTER_SQL.strip().rstrip(';')})
ORDER BY kind, k1, s1, s2
"""


QUERIES: dict[str, tuple] = {
    "merge_lww": (merge_lww, MERGE_LWW_SQL),
    "correlate_first_event": (correlate_first_event, CORRELATE_SQL),
    "cdc_guard_pack": (cdc_guard_pack, CDC_GUARD_PACK_SQL),
}


def entity_state_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §7.3 milestone 4 end-to-end: apply the flagship command
    stream to a pre-existing entity table (the state the reference
    delegates to lens-sds-tx, materialized here as an LWW merge).

    current state = even-custkey subjects (version v0);
    incoming      = subject-level commands (insert/upsert -> v1 row,
                    remove -> tombstone; update cascades only).

    Level pushdown: only subject-level commands feed this merge, and
    subject commands are independent of descendant levels (cascade
    gating flows parent→child, never back) — so this reads JUST the
    derived subjects level (``odm.resolved_subjects``): a customer
    scan + per-row tx resolution, no lineitem join, no command-id
    hashing (ids aren't merge inputs).  The round-1 form regenerated the full 5-level
    command stream and filtered it (29 shuffles for a 1-level answer).
    The oracle has always taken this shape (SUBJECT_TX over customer).
    """
    from ..plans.odm import resolved_subjects

    subj = resolved_subjects(spark, sf_dir)
    subj_cmds = subj.where(F.col("rtx").isin("insert", "upsert", "remove")).select(
        "study_oid",
        "subject_key",
        F.lit(1).alias("priority"),
        F.lit("v1").alias("version"),
        (F.col("rtx") == "remove").alias("is_remove"),
    )
    current = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select(
            F.concat(F.lit("ST"), (F.col("c_custkey") % 3).cast("string")).alias("study_oid"),
            F.concat(F.lit("SK"), F.col("c_custkey").cast("string")).alias("subject_key"),
            F.lit(0).alias("priority"),
            F.lit("v0").alias("version"),
            F.lit(False).alias("is_remove"),
        )
    )
    merged = apply_lww(
        current.unionByName(subj_cmds),
        keys=["study_oid", "subject_key"],
        order_cols=[F.col("priority")],
        is_delete=F.col("is_remove"),
    )
    return merged.select("study_oid", "subject_key", "version")


from ..oracle import SUBJECT_TX  # noqa: E402  (shared tx derivation text)

ENTITY_STATE_SQL = f"""
WITH subjects AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         coalesce({SUBJECT_TX}, 'insert') AS rtx
  FROM customer
),
incoming AS (
  SELECT study_oid, subject_key, 1 AS priority, 'v1' AS version,
         (rtx = 'remove') AS is_remove
  FROM subjects WHERE rtx IN ('insert', 'upsert', 'remove')
),
current_state AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         0 AS priority, 'v0' AS version, false AS is_remove
  FROM customer WHERE c_custkey % 2 = 0
),
unioned AS (SELECT * FROM current_state UNION ALL SELECT * FROM incoming)
SELECT study_oid, subject_key, version FROM (
  SELECT *, row_number() OVER (PARTITION BY study_oid, subject_key ORDER BY priority DESC) AS rk
  FROM unioned
) WHERE rk = 1 AND NOT is_remove
ORDER BY study_oid, subject_key
"""

QUERIES.update({"entity_state_subjects": (entity_state_subjects, ENTITY_STATE_SQL)})


def entity_state_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed merge store (plans/merge.py ``merge_into`` with a
    ``__bucket=hash(keys)%N`` manifest-commit layout) driven through its
    DEFAULT arguments under the HARD ORACLE GATE: three sequential
    micro-batches applied to an on-disk bucketed entity table, final
    state read back and compared against a closed-form DuckDB LWW over
    the unioned batches.  No call passes ``protocol`` — the first merge
    materializes the manifest table from ``num_buckets`` alone and the
    later ones auto-detect it; ``entity_state_manifest`` is the twin
    that passes it explicitly and adds snapshots, the change feed and
    maintenance.

    Batches (all derived deterministically from ``customer``):
      1. pri 0: even-custkey subjects at version v0 — materializes the
         16-bucket layout (seq 0 init + seq 1 data);
      2. pri 1: the subject-level command batch (insert/upsert → v1,
         remove → tombstone) — the FIRST pruned bucketed merge;
      3. pri 2: a second-day batch touching only custkey % 7 == 0 or
         % 11 == 0 (upsert → v2, % 11 → remove) — re-insert-after-
         remove, remove-after-update, and delete-of-absent all occur.

    Between batches 2 and 3 the table is REBUCKETED 16 → 8 (r11
    verdict #3): the migration op runs inside the gate, and batch 3
    must then prune correctly in the NEW bucket space for the final
    hash to stay green — the state equality across the re-layout is
    part of what the oracle pins.

    Sequential merges ≡ one LWW over the union because priorities are
    strictly increasing and the tombstone contract deletes only via a
    newer matching source row — which is exactly what the oracle SQL
    states.  Equality of the READ-BACK state (not an in-memory frame)
    gates the storage path itself: bucket routing, layout
    autodetection, pruned reads, per-bucket generation commits,
    tombstone drops, bucket emptying, re-layout.

    Scratch dir: (sf, pid)-keyed under spark-warehouse like the XML
    render corpus (same GC), wiped at builder start so re-runs are
    deterministic.  Reference semantics anchor:
    ``import_clinical_data.clj:239-263`` (upsert/remove at entity
    grain applied to the store).
    """
    from ..plans.merge import merge_into, read_merged_table, rebucket
    from ..plans.odm import resolved_subjects

    target = _merge_scratch_target("entity_state_bucketed", sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    st = F.concat(F.lit("ST"), (F.col("c_custkey") % 3).cast("string"))
    sk = F.concat(F.lit("SK"), F.col("c_custkey").cast("string"))
    b1 = cust.where(F.col("c_custkey") % 2 == 0).select(
        st.alias("study_oid"), sk.alias("subject_key"),
        F.lit(0).alias("priority"), F.lit("v0").alias("version"),
        F.lit(False).alias("is_remove"),
    )
    b2 = resolved_subjects(spark, sf_dir).where(
        F.col("rtx").isin("insert", "upsert", "remove")
    ).select(
        "study_oid", "subject_key",
        F.lit(1).alias("priority"), F.lit("v1").alias("version"),
        (F.col("rtx") == "remove").alias("is_remove"),
    )
    b3 = cust.where((F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 11 == 0)).select(
        st.alias("study_oid"), sk.alias("subject_key"),
        F.lit(2).alias("priority"), F.lit("v2").alias("version"),
        (F.col("c_custkey") % 11 == 0).alias("is_remove"),
    )
    layouts = []
    for i, batch in enumerate((b1, b2, b3)):
        res = merge_into(
            spark, target, batch,
            keys=["study_oid", "subject_key"],
            order_cols=["priority"],
            is_delete=F.col("is_remove"),
            num_buckets=16 if i == 0 else None,  # autodetected after layout
        )
        layouts.append((res["engine"], res["num_buckets"]))
        if i == 1:  # day-2 growth: migrate the layout mid-sequence
            reb = rebucket(spark, target, 8)
            if (reb["engine"], reb["num_buckets"]) != ("parquet-manifest", 8):
                raise AssertionError(f"unexpected rebucket result: {reb}")
    want = [("parquet-manifest", 16)] * 2 + [("parquet-manifest", 8)]
    if layouts != want:
        raise AssertionError(f"unexpected merge layouts: {layouts}")
    # Empty-input totality (tests/test_empty_inputs.py): an all-empty
    # corpus leaves a manifest with NO live bucket — legitimate merged
    # state (it is also what deleting every key leaves), which the
    # resolver reads as None.  Degrade to the documented 0-row form
    # instead of crashing.
    out = read_merged_table(spark, target)
    if out is None:
        out = spark.createDataFrame(
            [], "study_oid string, subject_key string, version string"
        )
    return out.select("study_oid", "subject_key", "version")


ENTITY_STATE_BUCKETED_SQL = f"""
WITH subjects AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         coalesce({SUBJECT_TX}, 'insert') AS rtx
  FROM customer
),
b1 AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         0 AS priority, 'v0' AS version, false AS is_remove
  FROM customer WHERE c_custkey % 2 = 0
),
b2 AS (
  SELECT study_oid, subject_key, 1 AS priority, 'v1' AS version,
         (rtx = 'remove') AS is_remove
  FROM subjects WHERE rtx IN ('insert', 'upsert', 'remove')
),
b3 AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         2 AS priority, 'v2' AS version,
         (c_custkey % 11 = 0) AS is_remove
  FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
),
unioned AS (
  SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3
)
SELECT study_oid, subject_key, version FROM (
  SELECT *, row_number() OVER (PARTITION BY study_oid, subject_key ORDER BY priority DESC) AS rk
  FROM unioned
) WHERE rk = 1 AND NOT is_remove
ORDER BY study_oid, subject_key
"""

QUERIES.update(
    {"entity_state_bucketed": (entity_state_bucketed, ENTITY_STATE_BUCKETED_SQL)}
)


def _merge_scratch_target(query_name: str, sf_dir: str) -> str:
    """(sf, pid)-keyed scratch target under spark-warehouse with the
    same GC as the XML render corpus; wipes this pid's own leftovers
    (the merge staging sibling + the r12 writer lease — a crashed
    holder under a REUSED pid would otherwise refuse batch 1 as
    'another writer')."""
    import os
    import shutil

    from .xml_ingest import _gc_stale_render_dirs

    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.environ.get("SPARK_GRAFT_RENDER_DIR") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
    )
    root = os.path.join(base, query_name)
    _gc_stale_render_dirs(root)
    target = os.path.join(root, f"{sf_name}-{os.getpid()}")
    for leftover in (target, target + ".__tmp"):
        shutil.rmtree(leftover, ignore_errors=True)
    try:
        os.remove(target + ".__lease")
    except OSError:
        pass
    return target


def entity_state_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest-commit merge store (plans/merge.py
    ``protocol='manifest'`` — generation directories + one atomically
    renamed manifest file, the object-store-safe commit) under the HARD
    ORACLE GATE with its full lifecycle, beside
    ``entity_state_bucketed`` (the same store through default
    arguments): three micro-batches merged into a real on-disk
    manifest table, the table rebucketed 16 → 8 mid-sequence
    (the manifest arm of the migration op), vacuumed at grace 0 (GC of
    every superseded generation must not change state), and the final
    state read back THROUGH THE MANIFEST RESOLVER
    (``read_merged_table``) and hash-compared against a closed-form
    DuckDB LWW over the unioned batches.

    Batches (deliberately DIFFERENT mods from the bucketed twin so the
    two gate outputs cannot degenerate into one):
      1. pri 0: ODD-custkey subjects at v0 — first manifest commits
         (seq 0 init + seq 1 data);
      2. pri 1: custkey % 5 == 0 or % 9 == 0 (upsert → v1, % 9 →
         remove) — insert-of-new (even %5 keys) and remove occur;
      3. pri 2: custkey % 4 == 0 or % 13 == 0 (upsert → v2, % 13 →
         remove) — re-insert-after-remove (36: removed by %9, back via
         %4), remove-after-update, delete-of-absent all occur, in the
         POST-rebucket bucket space.

    Reference semantics anchor: ``import_clinical_data.clj:239-263``
    (the store the commands mutate must never half-apply a batch — the
    manifest protocol's whole point)."""
    from ..plans.merge import (
        maintain_merged_table,
        merge_into,
        read_merged_table,
        rebucket,
    )

    target = _merge_scratch_target("entity_state_manifest", sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    st = F.concat(F.lit("ST"), (F.col("c_custkey") % 3).cast("string"))
    sk = F.concat(F.lit("SK"), F.col("c_custkey").cast("string"))
    b1 = cust.where(F.col("c_custkey") % 2 == 1).select(
        st.alias("study_oid"), sk.alias("subject_key"),
        F.lit(0).alias("priority"), F.lit("v0").alias("version"),
        F.lit(False).alias("is_remove"),
    )
    b2 = cust.where(
        (F.col("c_custkey") % 5 == 0) | (F.col("c_custkey") % 9 == 0)
    ).select(
        st.alias("study_oid"), sk.alias("subject_key"),
        F.lit(1).alias("priority"), F.lit("v1").alias("version"),
        (F.col("c_custkey") % 9 == 0).alias("is_remove"),
    )
    b3 = cust.where(
        (F.col("c_custkey") % 4 == 0) | (F.col("c_custkey") % 13 == 0)
    ).select(
        st.alias("study_oid"), sk.alias("subject_key"),
        F.lit(2).alias("priority"), F.lit("v2").alias("version"),
        (F.col("c_custkey") % 13 == 0).alias("is_remove"),
    )
    # r14 IVM witness: a maintained per-study aggregate (plans/ivm.py
    # refresh_aggregate) rides the SAME lifecycle — bootstrap after
    # batch 1, then ONE O(changed-groups) incremental refresh after
    # batch 3, spanning batch 2, the 16→8 rebucket, and batch 3 in a
    # single feed application (per-batch cadence is pytest-pinned in
    # test_ivm.py/test_streaming.py; two refreshes keep the gate's
    # build bounded).  The final aggregate is compared against a
    # direct groupBy of the resolver read below.  Runs BEFORE the
    # maintenance window: its grace-0 vacuum collects the manifests
    # the refresh's change feed resolves through (the documented
    # refresh-more-often-than-vacuum contract).
    from ..plans.ivm import read_aggregate, refresh_aggregate

    agg_target = _merge_scratch_target("entity_state_manifest_agg", sf_dir)
    ivm_aggs = {"n_subjects": ("count", "*"), "sum_pri": ("sum", "priority")}
    engines = []
    seq_b1 = None
    last_refresh = None
    for i, batch in enumerate((b1, b2, b3)):
        res = merge_into(
            spark, target, batch,
            keys=["study_oid", "subject_key"],
            order_cols=["priority"],
            is_delete=F.col("is_remove"),
            num_buckets=16 if i == 0 else None,  # autodetected after layout
            protocol="manifest" if i == 0 else None,
        )
        engines.append(res["engine"])
        if i == 0:
            seq_b1 = res["seq"]
        if i == 1:
            reb = rebucket(spark, target, 8)
            if (reb["engine"], reb["num_buckets"]) != ("parquet-manifest", 8):
                raise AssertionError(f"unexpected rebucket result: {reb}")
        if i in (0, 2):
            last_refresh = refresh_aggregate(
                spark, target, agg_target,
                group_keys=["study_oid"], aggs=ivm_aggs,
            )
            if last_refresh["bootstrap"] != (i == 0):
                raise AssertionError(
                    f"ivm refresh {i} unexpectedly "
                    f"{'re-bootstrapped' if last_refresh['bootstrap'] else 'skipped bootstrap'}: "
                    f"{last_refresh}"
                )
    if engines != ["parquet-manifest"] * 3:
        raise AssertionError(f"unexpected merge engines: {engines}")
    # r14: CDF witness — the net change feed (plans/merge.py
    # read_changes) from the batch-1 snapshot, ACROSS the 16→8 rebucket
    # (the pruner's full-map fallback path), must reconstruct the
    # resolver read exactly: snapshot(b1) − {delete, update_preimage
    # keys} ∪ {insert, update_postimage rows} == current state.  Runs
    # BEFORE the maintenance window below: its grace-0 vacuum collects
    # the superseded manifests a change feed resolves through.
    from ..plans.merge import read_changes

    ch = read_changes(spark, target, from_seq=seq_b1)
    cur_df = read_merged_table(spark, target)
    if cur_df is None:
        # empty-input totality (the empty-corpus pytest drives every
        # query on zero-row tables): nothing to reconstruct, but the
        # feed must agree that nothing changed
        if ch.count() != 0:
            raise AssertionError(
                "change feed non-empty on an empty table (witness)"
            )
    else:
        cols = [c for c in ch.columns if c != "_change_type"]
        gate_keys = ["study_oid", "subject_key"]
        base = read_merged_table(spark, target, as_of_seq=seq_b1)
        base = (
            base.select(*cols) if base is not None
            else ch.select(*cols).limit(0)
        )
        rebuilt = base.join(
            ch.where(
                F.col("_change_type").isin("delete", "update_preimage")
            ).select(*gate_keys),
            gate_keys, "left_anti",
        ).unionByName(
            ch.where(
                F.col("_change_type").isin("insert", "update_postimage")
            ).select(*cols)
        )
        cur = cur_df.select(*cols)
        n_diverged = (
            rebuilt.exceptAll(cur).unionByName(cur.exceptAll(rebuilt)).count()
        )
        if n_diverged:
            raise AssertionError(
                f"change-feed reconstruction diverged from the resolver "
                f"read by {n_diverged} rows (vacuous-gate guard)"
            )
        # ... and the feed itself must be POWERED: the batch mods make
        # all four change types occur at every gate SF (b2 inserts
        # even-%5 keys, removes %9 keys out of b1, upserts odd-%5 b1
        # keys)
        types_seen = {
            r[0] for r in ch.select("_change_type").distinct().collect()
        }
        expected_types = {
            "insert", "delete", "update_preimage", "update_postimage"
        }
        if types_seen != expected_types:
            raise AssertionError(
                f"change feed missing change types (vacuous witness): "
                f"saw {sorted(types_seen)}"
            )
    # ... and the maintained aggregate must equal a direct groupBy of
    # the resolver read, bit-for-bit (the IVM law, witnessed at the
    # gate; the last refresh above must also have been INCREMENTAL —
    # asserted in the loop — so this cannot silently degrade to a
    # recompute)
    agg_got = read_aggregate(spark, agg_target).select(
        "study_oid", "n_subjects", "sum_pri"
    )
    if cur_df is None:
        if agg_got.count() != 0:
            raise AssertionError("ivm aggregate non-empty on an empty table")
    else:
        agg_exp = cur_df.groupBy("study_oid").agg(
            F.count(F.lit(1)).alias("n_subjects"),
            F.sum(F.coalesce(F.col("priority"), F.lit(0))).alias("sum_pri"),
        ).select("study_oid", "n_subjects", "sum_pri")
        n_div = (
            agg_got.exceptAll(agg_exp)
            .unionByName(agg_exp.exceptAll(agg_got)).count()
        )
        if n_div:
            raise AssertionError(
                f"ivm aggregate diverged from the recompute by {n_div} "
                "rows (vacuous-gate guard)"
            )
        if last_refresh["groups_changed"] == 0:
            raise AssertionError(
                "ivm witness vacuous: the batch-3 refresh changed no "
                f"groups on a non-empty table: {last_refresh}"
            )
    # r14 (VERDICT r13 #4): close the lifecycle with the ONE-CALL
    # maintenance window — advisor-gated rebucket, sized compaction,
    # grace-0 vacuum, in that order — so the hash below pins that the
    # whole window is state-invariant, not just the vacuum step.  On
    # this deliberately tiny table the advisor ALWAYS recommends (live
    # bytes << 256 MB target → suggested 1 vs current 8, past the 2x
    # hysteresis), so the window's rebucket phase provably executes.
    maint = maintain_merged_table(spark, target, grace_sec=0.0)
    if not maint["rebucket"]["rebucketed"]:
        raise AssertionError(
            f"maintenance window did not rebucket (vacuous gate): {maint}"
        )
    if maint["compact"] is None or maint["vacuum"] is None:
        raise AssertionError(
            f"maintenance window skipped a manifest phase: {maint}"
        )
    out = read_merged_table(spark, target)
    if out is None:  # empty-input totality: the all-deleted/never-written state
        out = spark.createDataFrame(
            [], "study_oid string, subject_key string, version string"
        )
    return out.select("study_oid", "subject_key", "version")


ENTITY_STATE_MANIFEST_SQL = """
WITH b1 AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         0 AS priority, 'v0' AS version, false AS is_remove
  FROM customer WHERE c_custkey % 2 = 1
),
b2 AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         1 AS priority, 'v1' AS version,
         (c_custkey % 9 = 0) AS is_remove
  FROM customer WHERE c_custkey % 5 = 0 OR c_custkey % 9 = 0
),
b3 AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         2 AS priority, 'v2' AS version,
         (c_custkey % 13 = 0) AS is_remove
  FROM customer WHERE c_custkey % 4 = 0 OR c_custkey % 13 = 0
),
unioned AS (
  SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3
)
SELECT study_oid, subject_key, version FROM (
  SELECT *, row_number() OVER (PARTITION BY study_oid, subject_key ORDER BY priority DESC) AS rk
  FROM unioned
) WHERE rk = 1 AND NOT is_remove
ORDER BY study_oid, subject_key
"""

QUERIES.update(
    {"entity_state_manifest": (entity_state_manifest, ENTITY_STATE_MANIFEST_SQL)}
)


def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r13 explicit schema-evolution op (plans/merge.py
    ``evolve_schema`` — the operation the schema-pin drift refusal
    points at) under the HARD ORACLE GATE, extending the entity-state
    twins' discipline to the EVOLVING-schema lifecycle a long-lived
    entity store actually goes through:

      1. b1 (pri 0 INT): custkey % 3 == 0 subjects at v0 — first
         manifest commits, schema WITHOUT site_id;
      2. ``evolve_schema(add={'site_id': 'string'})`` — METADATA-ONLY
         manifest commit (no data file touched; b1 rows must later
         read site_id as typed NULL through the pin-conform seam);
         an OLD-shape batch is then proven REFUSED (the drift gate);
      3. b2 (pri 1 INT): custkey % 6 == 0 or % 10 == 0 (upsert → v1
         carrying site_id, % 10 → remove);
      4. ``evolve_schema(widen={'priority': 'bigint'})`` — the
         full-rewrite pass under the manifest commit protocol (every
         stored int priority re-cast losslessly);
      5. b3 (pri 2 BIGINT): custkey % 8 == 0 or % 15 == 0 (upsert →
         v2, % 15 → remove) — merged in the POST-widen type space
         (an int batch would now be refused as retyped);
      6. grace-0 vacuum (GC across the evolution history must not
         change state), then the final state is read back THROUGH the
         resolver and hash-compared against a closed-form DuckDB LWW
         whose b1 arm carries ``CAST(NULL AS VARCHAR)`` site_id and
         all-BIGINT priorities — exactly the add-backfill + widen
         semantics.

    Covers: NULL backfill for pre-add rows, carried values for
    post-add rows, re-insert-after-remove across the widen (custkey
    40), delete-of-absent (30), and remove-that-sticks (10).

    Reference semantics anchor: ``src/lens/broker.clj:28-51`` — the
    reference validates envelope shapes and delegates entity-schema
    change to its store; this is that operation for the portable
    store."""
    from ..plans.merge import evolve_schema as evolve
    from ..plans.merge import merge_into, read_merged_table, vacuum_merged_table

    target = _merge_scratch_target("schema_evolution", sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    st = F.concat(F.lit("ST"), (F.col("c_custkey") % 3).cast("string"))
    sk = F.concat(F.lit("SK"), F.col("c_custkey").cast("string"))
    b1 = cust.where(F.col("c_custkey") % 3 == 0).select(
        st.alias("study_oid"), sk.alias("subject_key"),
        F.lit(0).alias("priority"), F.lit("v0").alias("version"),
        F.lit(False).alias("is_remove"),
    )
    b2 = cust.where(
        (F.col("c_custkey") % 6 == 0) | (F.col("c_custkey") % 10 == 0)
    ).select(
        st.alias("study_oid"), sk.alias("subject_key"),
        F.lit(1).alias("priority"), F.lit("v1").alias("version"),
        (F.col("c_custkey") % 10 == 0).alias("is_remove"),
        F.concat(F.lit("S"), (F.col("c_custkey") % 4).cast("string")).alias(
            "site_id"
        ),
    )
    b3 = cust.where(
        (F.col("c_custkey") % 8 == 0) | (F.col("c_custkey") % 15 == 0)
    ).select(
        st.alias("study_oid"), sk.alias("subject_key"),
        F.lit(2).cast("bigint").alias("priority"), F.lit("v2").alias("version"),
        (F.col("c_custkey") % 15 == 0).alias("is_remove"),
        F.concat(F.lit("T"), (F.col("c_custkey") % 5).cast("string")).alias(
            "site_id"
        ),
    )

    def m(batch, **kw):
        return merge_into(
            spark, target, batch, keys=["study_oid", "subject_key"],
            order_cols=["priority"], is_delete=F.col("is_remove"), **kw,
        )

    r1 = m(b1, num_buckets=8, protocol="manifest")
    ev1 = evolve(spark, target, add={"site_id": "string"})
    if (ev1["added"], ev1["rewritten"]) != (["site_id"], False):
        raise AssertionError(f"unexpected add evolution: {ev1}")
    # the drift gate is part of what this query verifies: an OLD-shape
    # batch (no site_id) must now be REFUSED, loudly, pre-job
    try:
        m(b1.limit(1))
        raise AssertionError("post-add merge of an old-shape batch passed")
    except ValueError as e:
        if "evolve_schema" not in str(e):
            raise
    r2 = m(b2)
    ev2 = evolve(spark, target, widen={"priority": "bigint"})
    # empty-input totality: a widen on a table with no live buckets is
    # correctly METADATA-ONLY (nothing to rewrite); with any rows
    # merged, the full rewrite pass must have run
    has_rows = any((r.get("touched_rows") or 0) > 0 for r in (r1, r2))
    if (ev2["widened"], ev2["rewritten"]) != ({"priority": "bigint"}, has_rows):
        raise AssertionError(f"unexpected widen evolution: {ev2}")
    r3 = m(b3)
    engines = [r["engine"] for r in (r1, r2, r3)]
    if engines != ["parquet-manifest"] * 3:
        raise AssertionError(f"unexpected merge engines: {engines}")
    vacuum_merged_table(spark, target, grace_sec=0.0)
    out = read_merged_table(spark, target)
    if out is None:  # empty-input totality
        out = spark.createDataFrame(
            [],
            "study_oid string, subject_key string, priority bigint, "
            "version string, site_id string",
        )
    return out.select("study_oid", "subject_key", "priority", "version", "site_id")


SCHEMA_EVOLUTION_SQL = """
WITH b1 AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         CAST(0 AS BIGINT) AS priority, 'v0' AS version, false AS is_remove,
         CAST(NULL AS VARCHAR) AS site_id
  FROM customer WHERE c_custkey % 3 = 0
),
b2 AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         CAST(1 AS BIGINT) AS priority, 'v1' AS version,
         (c_custkey % 10 = 0) AS is_remove,
         'S' || CAST(c_custkey % 4 AS VARCHAR) AS site_id
  FROM customer WHERE c_custkey % 6 = 0 OR c_custkey % 10 = 0
),
b3 AS (
  SELECT 'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         CAST(2 AS BIGINT) AS priority, 'v2' AS version,
         (c_custkey % 15 = 0) AS is_remove,
         'T' || CAST(c_custkey % 5 AS VARCHAR) AS site_id
  FROM customer WHERE c_custkey % 8 = 0 OR c_custkey % 15 = 0
),
unioned AS (
  SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3
)
SELECT study_oid, subject_key, priority, version, site_id FROM (
  SELECT *, row_number() OVER (PARTITION BY study_oid, subject_key ORDER BY priority DESC) AS rk
  FROM unioned
) WHERE rk = 1 AND NOT is_remove
ORDER BY study_oid, subject_key
"""

QUERIES.update({"schema_evolution": (schema_evolution, SCHEMA_EVOLUTION_SQL)})


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) history from the events
    CDC stream: per user, each event opens a version; lead() closes the
    previous one.  valid_to NULL = current row.  Built-ins only — the
    no-Delta MERGE equivalent for history tables at scale."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "ts_ns",
            F.expr("ts_ns div 1000000000").alias("valid_from"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(w))
        .drop("ts_ns")
    )


SCD2_SQL = """
SELECT user_id, event_id, event_type,
       epoch_ns(ts) // 1000000000 AS valid_from,
       lead(epoch_ns(ts) // 1000000000) OVER (
         PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS valid_to
FROM events
ORDER BY user_id, valid_from, event_id
"""


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window (30-min gap) in batch mode; the oracle
    reproduces it with gaps-and-islands.  Micro-precision timestamps
    keep both engines in exact integer agreement."""
    ev = load_events(spark, sf_dir).withColumn("ts", F.expr("timestamp_micros(ts_ns div 1000)"))
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )


SESSION_WINDOW_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us FROM events
),
flagged AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
               OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
islands AS (
  SELECT user_id, ts_us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, min(ts_us) AS session_start_us, count(*) AS n_events
FROM islands GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""

QUERIES.update(
    {
        "scd2_history": (scd2_history, SCD2_SQL),
        "session_window_agg": (session_window_agg, SESSION_WINDOW_SQL),
    }
)


# ---------------------------------------------------------------------------
# requeue_routing: the A22 nack+requeue loop's retry-budget arithmetic
# under the hard oracle gate (r9, VERDICT r8 #5 — previously pytest-only)

_RQ_MAX_ATTEMPTS = 3
_RQ_SUBSET_MOD = 11  # event_id % 11 == 0 -> ~9% of events ride the loop
_RQ_FAIL_MOD = 5     # fail_n = event_id % 5 failed deliveries before success
_RQ_FATAL_MOD = 7    # event_id % 7 == 0 -> failure is fatal (not retryable)


def requeue_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`streaming.pipeline.requeue_sink` (reference
    ``broker.clj:87-95``): drives the REAL sink closure to its fixpoint
    over a deterministic failure model, so the retry-budget arithmetic
    (attempts seeding, +1 on requeue, ``attempts + 1 >= max_attempts``
    dead-lettering, fatal short-circuit, metrics tally) sits under the
    driver's hash gate instead of pytest alone.

    Failure model (all event-derived, so the oracle can replay it in
    closed form): a row succeeds on its ``fail_n = event_id % 5``-th
    delivery; a failing row is retryable unless ``event_id % 7 == 0``.
    With ``max_attempts = 3`` the loop terminates in at most 3
    deliveries per row: attempts strictly increase and requeue requires
    ``attempts + 1 < max_attempts``.  Each iteration feeds the sink's
    OWN requeue output back as the next batch — exactly the file-source
    feedback edge the streaming deploy uses, minus the trigger loop
    (deterministic, so the gate can hash it).

    Output: per-row final route + attempts, plus the DurableMetrics-
    shape totals as constant columns — ``m_requeued`` must equal the
    sum of final attempts (every requeue increments exactly one row's
    count once), which the oracle states in closed form; any drift in
    the sink's routing arithmetic breaks the hash.

    At 100 TB: the loop body is the production sink unchanged — each
    epoch is one bounded scan/route/append; nothing collects to the
    driver (the feedback hand-off is a directory RENAME, not a
    materialization).  The fixpoint driver itself is a test harness;
    production runs the same sink under a streaming trigger.
    """
    import os
    import shutil

    from ..streaming.pipeline import requeue_sink
    from .xml_ingest import _gc_stale_render_dirs

    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.environ.get("SPARK_GRAFT_RENDER_DIR") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
    )
    root = os.path.join(base, "requeue_batch")
    _gc_stale_render_dirs(root)  # same <sf>-<pid> scratch contract as the XML render
    scratch = os.path.join(root, f"{sf_name}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    out_dir, dead_dir, rq_dir = (os.path.join(scratch, d) for d in ("ok", "dead", "rq"))

    seed = (
        load_events(spark, sf_dir)
        .where(F.col("event_id") % _RQ_SUBSET_MOD == 0)
        .select("event_id", F.lit(0).alias("attempts"))
    )
    att = F.coalesce(F.col("attempts"), F.lit(0))
    is_ok = att >= F.col("event_id") % _RQ_FAIL_MOD
    is_retryable = F.col("event_id") % _RQ_FATAL_MOD != 0
    metrics: dict = {}
    sink = requeue_sink(
        out_dir, dead_dir, rq_dir, is_ok, is_retryable,
        max_attempts=_RQ_MAX_ATTEMPTS, metrics=metrics,
    )
    batch = seed
    for epoch in range(_RQ_MAX_ATTEMPTS + 1):
        sink(batch, epoch)
        if not os.path.isdir(rq_dir):
            break
        # hand the requeue output back as the next delivery via RENAME
        # (never a collect): the sink appends fresh files per epoch, so
        # moving the dir aside is what "only the new files" means here
        staged = os.path.join(scratch, f"rq_epoch{epoch}")
        os.rename(rq_dir, staged)
        batch = spark.read.parquet(staged)
    else:  # pragma: no cover - the arithmetic bounds the loop at max_attempts
        raise RuntimeError(
            "requeue_routing: requeue output survived past max_attempts "
            "deliveries — the sink's retry-budget arithmetic is broken"
        )

    def _read(path: str, route: str) -> DataFrame:
        if not os.path.isdir(path):  # e.g. empty subset: sink wrote nothing
            return spark.createDataFrame([], "event_id bigint, attempts int").withColumn(
                "route", F.lit(route)
            )
        return spark.read.parquet(path).withColumn("route", F.lit(route))

    routed = _read(out_dir, "ok").unionByName(_read(dead_dir, "dead"))
    return routed.select(
        "event_id",
        "route",
        F.coalesce(F.col("attempts"), F.lit(0)).cast("long").alias("final_attempts"),
        F.lit(metrics.get("ok", 0)).cast("long").alias("m_ok"),
        F.lit(metrics.get("requeued", 0)).cast("long").alias("m_requeued"),
        F.lit(metrics.get("dead", 0)).cast("long").alias("m_dead"),
    )


# Closed form of the loop above (max_attempts = 3): a row reaches
# attempts a only via a requeues, and requeue requires a+1 < 3, so
# reachable attempts are 0..2.  ok iff it succeeds at some reachable
# attempts (fail_n <= 2) — immediately (fail_n = 0) or after retries
# (needs retryable); otherwise dead at attempts 0 (fatal) or 2 (budget
# exhausted).  m_requeued = SUM(final_attempts): each requeue
# increments exactly one row's attempts by one.
REQUEUE_ROUTING_SQL = f"""
WITH sub AS (
  SELECT event_id,
         event_id % {_RQ_FAIL_MOD} AS fail_n,
         (event_id % {_RQ_FATAL_MOD}) <> 0 AS retryable
  FROM events WHERE event_id % {_RQ_SUBSET_MOD} = 0
),
routed AS (
  SELECT event_id,
         CASE WHEN fail_n = 0 OR (retryable AND fail_n <= {_RQ_MAX_ATTEMPTS - 1})
              THEN 'ok' ELSE 'dead' END AS route,
         CAST(CASE WHEN fail_n = 0 OR NOT retryable THEN 0
                   ELSE LEAST(fail_n, {_RQ_MAX_ATTEMPTS - 1}) END AS BIGINT)
           AS final_attempts
  FROM sub
),
m AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN route = 'ok' THEN 1 ELSE 0 END), 0) AS BIGINT) AS m_ok,
         CAST(COALESCE(SUM(final_attempts), 0) AS BIGINT) AS m_requeued,
         CAST(COALESCE(SUM(CASE WHEN route = 'dead' THEN 1 ELSE 0 END), 0) AS BIGINT) AS m_dead
  FROM routed
)
SELECT event_id, route, final_attempts, m_ok, m_requeued, m_dead
FROM routed CROSS JOIN m
ORDER BY event_id
"""

QUERIES.update({"requeue_routing": (requeue_routing, REQUEUE_ROUTING_SQL)})


# Predicate-power probes (see registry.all_probes / dedup.PROBES header)
PROBES: dict[str, tuple] = {
    "lww merge collapses multi-version keys": (
        "merge_lww", "oracle",
        "SELECT (SELECT count(*) FROM events) - (SELECT count(*) FROM t),"
        " (SELECT count(*) FROM t)"),
    "correlate first-event ties at min t": (
        "correlate_first_event", "corpus",
        """WITH mins AS (SELECT l_orderkey, min(l_linenumber) AS mn
                         FROM lineitem GROUP BY l_orderkey)
           SELECT count(*), NULL FROM (
             SELECT li.l_orderkey FROM lineitem li JOIN mins
               ON li.l_orderkey = mins.l_orderkey AND li.l_linenumber = mins.mn
             GROUP BY li.l_orderkey HAVING count(*) > 1)"""),
    "cdc guard routes cascades and dead letters": (
        "cdc_guard_pack", "oracle",
        "SELECT sum(CASE WHEN kind='dead_letter' THEN 1 ELSE 0 END),"
        " sum(CASE WHEN kind='cascade' THEN 1 ELSE 0 END) FROM t"),
    "bucketed merge final state carries day-2 winners and untouched v0s": (
        "entity_state_bucketed", "oracle",
        "SELECT sum(CASE WHEN version='v2' THEN 1 ELSE 0 END),"
        " sum(CASE WHEN version='v0' THEN 1 ELSE 0 END) FROM t"),
    "bucketed merge pri-2 removes hit keys that were in state": (
        "entity_state_bucketed", "corpus",
        """SELECT (SELECT count(*) FROM customer
                   WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
                     AND c_custkey % 2 = 0),
               (SELECT count(*) FROM customer
                   WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0)"""),
    "manifest merge final state carries day-2 winners and untouched v0s": (
        "entity_state_manifest", "oracle",
        "SELECT sum(CASE WHEN version='v2' THEN 1 ELSE 0 END),"
        " sum(CASE WHEN version='v0' THEN 1 ELSE 0 END) FROM t"),
    "manifest merge removes that stick vs re-inserts after remove": (
        "entity_state_manifest", "corpus",
        """SELECT (SELECT count(*) FROM customer
                   WHERE c_custkey % 2 = 1 AND c_custkey % 9 = 0
                     AND c_custkey % 13 <> 0),
               (SELECT count(*) FROM customer
                   WHERE c_custkey % 9 = 0 AND c_custkey % 4 = 0
                     AND c_custkey % 13 <> 0)"""),
    "evolution add backfills NULL vs carries values": (
        "schema_evolution", "oracle",
        "SELECT sum(CASE WHEN site_id IS NULL THEN 1 ELSE 0 END),"
        " sum(CASE WHEN site_id IS NOT NULL THEN 1 ELSE 0 END) FROM t"),
    "evolution widen covers rewritten ints and native bigints": (
        "schema_evolution", "oracle",
        "SELECT sum(CASE WHEN priority < 2 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN priority = 2 THEN 1 ELSE 0 END) FROM t"),
    "evolution removes that stick vs re-inserts across the widen": (
        "schema_evolution", "corpus",
        """SELECT (SELECT count(*) FROM customer
                   WHERE c_custkey % 10 = 0
                     AND (c_custkey % 8 <> 0 OR c_custkey % 15 = 0)),
               (SELECT count(*) FROM customer
                   WHERE c_custkey % 10 = 0 AND c_custkey % 8 = 0
                     AND c_custkey % 15 <> 0)"""),
    "entity state mixes updated and untouched subjects": (
        "entity_state_subjects", "oracle",
        "SELECT sum(CASE WHEN version='v1' THEN 1 ELSE 0 END),"
        " sum(CASE WHEN version='v0' THEN 1 ELSE 0 END) FROM t"),
    "scd2 versions (closed, open)": (
        "scd2_history", "oracle",
        "SELECT sum(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END),"
        " sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) FROM t"),
    "session windows (singleton, multi-event)": (
        "session_window_agg", "oracle",
        "SELECT sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN n_events > 1 THEN 1 ELSE 0 END) FROM t"),
    "requeue dead routes (fatal-immediate, budget-exhausted)": (
        "requeue_routing", "oracle",
        """SELECT sum(CASE WHEN route='dead' AND final_attempts=0 THEN 1 ELSE 0 END),
              sum(CASE WHEN route='dead' AND final_attempts>0 THEN 1 ELSE 0 END)
        FROM t"""),
    "requeue ok routes (first-try, recovered-after-retry)": (
        "requeue_routing", "oracle",
        """SELECT sum(CASE WHEN route='ok' AND final_attempts=0 THEN 1 ELSE 0 END),
              sum(CASE WHEN route='ok' AND final_attempts>0 THEN 1 ELSE 0 END)
        FROM t"""),
}
