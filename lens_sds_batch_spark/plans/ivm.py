"""Incremental view maintenance (IVM) for aggregates over a
manifest-commit merge target — the materialized-view analog of
``replicate_changes``: a downstream AGGREGATE table (``GROUP BY`` +
count/sum) kept in sync with a source entity table by applying the NET
change feed as per-group deltas, never re-reading the source in full
after the bootstrap.

Cost model (completing the storage layer's): the source merge is
O(touched buckets), the change feed is O(changed buckets), and one
aggregate refresh is O(changed groups) — feed-diff one aggregation,
point-lookup of exactly the changed groups' current values
(:func:`~lens_sds_batch_spark.plans.merge.lookup_merged_keys`), one
merge of group-grain rows.  At 100 TB a refresh touches megabytes.

Exactly-once contract: the source cursor (the last synced source seq)
is committed ATOMICALLY inside the same manifest rename as the merged
deltas (``merge_into(commit_meta=...)``), the change-feed consumer
protocol ``replicate_changes`` shares (``merge.feed_cursor``).  Delta
APPLICATION is not idempotent: replaying a +3 onto an already-applied
+3 double-counts.  With the cursor inside the commit
there is no crash point between data and cursor; a crash before the
manifest rename leaves both untouched (replay recomputes the same
deltas), a crash after leaves both advanced (replay is a no-op).
Concurrent refreshes are CAS-fenced (``expect_seq``): the second
planner's merge refuses because its plan basis moved, instead of
double-applying deltas planned from the same lookup state.

Supported aggregates and why exactly these:
- ``("count", "*")`` / ``("count", col)`` / ``("sum", col)`` over
  integral or decimal columns are DELTA-DECOMPOSABLE under inserts,
  updates AND deletes (the feed's signed pre/post-image rows are
  exactly the group's delta), and exact in integer/decimal arithmetic,
  so the maintained table equals the full recomputation bit-for-bit —
  the law every test pins.
- ``avg`` is refused: maintain ``sum`` + ``count`` and divide at read
  (exact; a delta-maintained mean is neither).
- ``min``/``max`` are refused: deleting the current extremum needs a
  re-scan of the group — not expressible as a delta; keep the source
  column in a replica (``replicate_changes``) or recompute.
- ``count_distinct`` is refused as a direct op but is EXPRESSIBLE BY
  CHAINING — an aggregate target is itself a manifest table with a
  change feed, so ``refresh_aggregate`` composes: maintain
  ``mid = GROUP BY (g, v) count(*)`` over the source, then
  ``out = GROUP BY g count(*)`` over ``mid``; out's count is exactly
  the number of distinct v per g (NULL counts as a value), maintained
  at O(changed groups) end-to-end.  A value-count change inside a
  (g, v) group reaches out as an update pre/post pair whose count
  delta nets to zero; the distinct count moves only when a (g, v)
  group is born or dies.  Pinned in
  tests/test_ivm.py::test_chained_ivm_maintains_distinct_count.
- ``sum`` over float/double is refused: floating-point delta
  application drifts from the recomputed value (addition is not
  associative); cast the column to decimal first.

Reference anchor: the reference maintains per-import aggregate metrics
incrementally as commands stream through
(/root/reference/src/lens/import_clinical_data.clj:316-327); this
module is that idea productionized at table grain.
"""
from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..session import local_ckpt, release_ckpt
from .merge import (
    BUCKET_COL,
    CHANGE_TYPE_COL,
    IVM_META_KEY,
    SRC_SEQ_COL,
    empty_merged_table,
    feed_cursor,
    feed_status,
    lookup_merged_keys,
    merge_into,
    read_changes,
    read_merged_table,
)

_COUNT_DTYPE = "bigint"
# exact-arithmetic dtypes a maintained sum may range over; float/double
# deltas drift (see module docstring), everything else can't sum at all
_SUMMABLE = ("tinyint", "smallint", "int", "bigint")


def _validate_spec(group_keys, aggs, dtypes: dict) -> None:
    if not group_keys:
        raise ValueError("refresh_aggregate: group_keys must be non-empty")
    if len(set(group_keys)) != len(group_keys):
        raise ValueError(
            f"refresh_aggregate: duplicate group_keys {group_keys}"
        )
    if not aggs:
        raise ValueError("refresh_aggregate: aggs must be non-empty")
    for k in group_keys:
        if k.startswith("__"):
            # a chained source (an aggregate/replica) EXPOSES __src_seq
            # as a data column; grouping on it would collide with the
            # refresh's own recency column of the same name — refuse up
            # front instead of failing later with a duplicate-column
            # analysis error
            raise ValueError(
                f"refresh_aggregate: group key {k!r} is reserved "
                "(double-underscore columns are storage internals)"
            )
        if k not in dtypes:
            raise ValueError(
                f"refresh_aggregate: group key {k!r} is not a source "
                f"column (source has {sorted(dtypes)})"
            )
    has_count_star = False
    for name, spec in aggs.items():
        op, col = tuple(spec)
        if name in group_keys:
            raise ValueError(
                f"refresh_aggregate: output column {name!r} collides with "
                "a group key"
            )
        if name.startswith("__") or name == CHANGE_TYPE_COL:
            raise ValueError(
                f"refresh_aggregate: output column {name!r} is reserved"
            )
        if op == "avg":
            raise ValueError(
                f"refresh_aggregate: {name!r}: avg is not maintained "
                "directly — maintain ('sum', col) and ('count', col) and "
                "divide at read time (exact, unlike a delta-maintained "
                "float mean)"
            )
        if op in ("min", "max"):
            raise ValueError(
                f"refresh_aggregate: {name!r}: {op} is not "
                "delta-decomposable under deletes (removing the current "
                "extremum needs a group re-scan) — keep the source column "
                "in a replica (replicate_changes) or recompute"
            )
        if op == "count_distinct":
            raise ValueError(
                f"refresh_aggregate: {name!r}: count_distinct is not a "
                "direct op — CHAIN two aggregates instead (an aggregate "
                "target is itself a refreshable source): maintain "
                f"mid = GROUP BY (keys..., {col}) count(*), then "
                "out = GROUP BY keys count(*) over mid; out's count IS "
                "the distinct count, maintained incrementally end-to-end"
            )
        if op not in ("count", "sum"):
            raise ValueError(
                f"refresh_aggregate: {name!r}: unsupported op {op!r} "
                "(supported: ('count','*'), ('count',col), ('sum',col))"
            )
        if op == "count" and col == "*":
            has_count_star = True
            continue
        if col not in dtypes:
            raise ValueError(
                f"refresh_aggregate: {name!r} aggregates {col!r}, which is "
                f"not a source column (source has {sorted(dtypes)})"
            )
        if op == "sum":
            dt = dtypes[col]
            if dt in ("float", "double"):
                raise ValueError(
                    f"refresh_aggregate: {name!r}: sum over {col!r} "
                    f"({dt}) is refused — floating-point delta application "
                    "drifts from the recomputed value; cast the column to "
                    "decimal first"
                )
            if not (dt in _SUMMABLE or dt.startswith("decimal")):
                raise ValueError(
                    f"refresh_aggregate: {name!r}: sum over {col!r} "
                    f"({dt}) is not summable"
                )
    if not has_count_star:
        raise ValueError(
            "refresh_aggregate: aggs must include one ('count', '*') "
            "entry — the row count is how the refresh detects that a "
            "group DIED (count reaches 0 → tombstone); without it a "
            "deleted group would linger with stale sums"
        )


def _canon_spec(source: str, group_keys, aggs) -> dict:
    return {
        "source": source,
        "group_keys": list(group_keys),
        "aggs": {n: [op, col] for n, (op, col) in aggs.items()},
    }


def _full_aggregate(state: DataFrame, group_keys, aggs) -> DataFrame:
    exprs = []
    for name, (op, col) in aggs.items():
        if op == "count" and col == "*":
            e = F.count(F.lit(1))
        elif op == "count":
            e = F.count(F.col(col))
        else:
            # NULL-to-0 sum (NOT bare SQL SUM, which returns NULL on an
            # all-NULL group): the delta arithmetic needs every stored
            # sum non-NULL, and 'sum coalescing NULL to 0' is the
            # contract both the full and incremental paths share
            e = F.sum(F.coalesce(F.col(col), F.lit(0)))
        exprs.append(e.alias(name))
    return state.groupBy(*[F.col(k) for k in group_keys]).agg(*exprs)


def _delta_aggregate(feed: DataFrame, group_keys, aggs) -> DataFrame:
    """Per-group signed deltas from the net change feed: +row for
    insert/update_postimage, -row for delete/update_preimage."""
    sign = F.when(
        F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    exprs = []
    for name, (op, col) in aggs.items():
        if op == "count" and col == "*":
            e = F.sum(sign.cast(_COUNT_DTYPE))
        elif op == "count":
            e = F.sum(
                F.when(F.col(col).isNotNull(), sign)
                .otherwise(F.lit(0)).cast(_COUNT_DTYPE)
            )
        else:
            e = F.sum(F.coalesce(F.col(col), F.lit(0)) * sign)
        exprs.append(e.alias("__d_" + name))
    deltas = feed.groupBy(*[F.col(k) for k in group_keys]).agg(*exprs)
    # groups whose every delta nets to zero need no write (and no
    # bucket touch): e.g. an update that changed only non-aggregated
    # columns, or a change and its revert inside the refresh interval
    nonzero = reduce(
        lambda a, b: a | b,
        [F.col("__d_" + n) != F.lit(0) for n in aggs],
    )
    return deltas.where(nonzero)


def refresh_aggregate(
    spark,
    source_path: str,
    target_path: str,
    group_keys: list[str] | None = None,
    aggs: dict | None = None,
    num_buckets: int = 8,
) -> dict:
    """ONE incremental refresh of a maintained GROUP-BY aggregate of a
    manifest-commit source table (see the module docstring for the
    contract).  First call BOOTSTRAPS: full aggregate of the source's
    resolver read, materialized as a manifest target keyed on
    ``group_keys``, the source seq recorded in the commit's metadata.
    Every later call needs only ``(spark, source_path, target_path)``
    — the spec is read back from the target's commit metadata (passing
    ``group_keys``/``aggs`` again just re-verifies them).
    ``num_buckets`` shapes the aggregate's layout at BOOTSTRAP only
    (group-grain tables are small — the default 8 is usually right);
    on later calls the committed layout governs and the parameter is
    ignored, like every merge_into auto-detection.

    The maintained table carries ``group_keys + list(aggs) +
    __src_seq``; read it with :func:`read_aggregate`.  A group whose
    row count reaches zero is tombstoned out (that is why a
    ``('count','*')`` arm is mandatory).

    Refusals, all loud:
    - spec drift (different keys/aggs than the target was built with),
      or a target that is a merge table but not an IVM aggregate;
    - a cursor below the source's vacuum horizon: the diff base is
      gone — rebuild into a fresh path, and refresh more often than
      the source's vacuum grace (same remediation as
      replicate_changes);
    - ``avg``/``min``/``max``/float sums (module docstring);
    - a group-key dtype widened at the source since the bootstrap
      surfaces as lookup_merged_keys' dtype-drift refusal: the
      aggregate's bucket space hashes the OLD type — rebuild it.

    Returns ``{"from_seq", "to_seq", "bootstrap", "groups_changed",
    "groups_deleted", "dst_seq"}``; ``from_seq == to_seq`` means no new
    source commits (pure no-op, nothing committed).
    """
    src = source_path.rstrip("/")
    tgt = target_path.rstrip("/")
    # a missing manifest means bootstrap; a CORRUPT one raises loudly
    # inside feed_cursor, never reading as "fresh target"
    _, latest, dst_seq, stored = feed_cursor(spark, src, tgt, IVM_META_KEY)
    if stored is not None:
        if group_keys is not None and list(group_keys) != list(
            stored["group_keys"]
        ):
            raise ValueError(
                f"refresh_aggregate: group_keys {list(group_keys)} differ "
                f"from the target's spec {stored['group_keys']} — the "
                "grouping cannot change in place; build a new aggregate"
            )
        if aggs is not None:
            want = {n: [op, col] for n, (op, col) in aggs.items()}
            if want != stored["aggs"]:
                raise ValueError(
                    f"refresh_aggregate: aggs {want} differ from the "
                    f"target's spec {stored['aggs']} — the aggregate set "
                    "cannot change in place; build a new aggregate"
                )
        group_keys = list(stored["group_keys"])
        aggs = {n: tuple(v) for n, v in stored["aggs"].items()}

    if stored is None:
        # ---- bootstrap: full aggregate at the latest snapshot ----
        if group_keys is None or aggs is None:
            raise ValueError(
                f"refresh_aggregate: {tgt} does not exist yet — the "
                "bootstrap call must pass group_keys and aggs"
            )
        aggs = {n: tuple(v) for n, v in aggs.items()}
        state = read_merged_table(spark, src, as_of_seq=latest)
        if state is None:
            # empty-but-pinned source: type the empty state from the pin
            state = empty_merged_table(spark, src)
        state = state.drop(BUCKET_COL) if BUCKET_COL in state.columns else state
        _validate_spec(group_keys, aggs, dict(state.dtypes))
        out = _full_aggregate(state, group_keys, aggs).withColumn(
            SRC_SEQ_COL, F.lit(latest).cast("bigint")
        )
        res = merge_into(
            spark, tgt, out,
            keys=group_keys,
            order_cols=[SRC_SEQ_COL],
            is_delete=F.lit(False),
            num_buckets=num_buckets,
            protocol="manifest",
            commit_meta={
                IVM_META_KEY: {
                    **_canon_spec(src, group_keys, aggs), "src_seq": latest,
                }
            },
        )
        return {
            "from_seq": 0, "to_seq": latest, "bootstrap": True,
            "groups_changed": int(res.get("touched_rows") or 0),
            "groups_deleted": 0, "dst_seq": res["seq"],
        }

    # ---- incremental: apply the net feed since the cursor ----
    cursor = int(stored["src_seq"])
    if cursor == latest:
        return {
            "from_seq": cursor, "to_seq": latest, "bootstrap": False,
            "groups_changed": 0, "groups_deleted": 0, "dst_seq": dst_seq,
        }
    feed = read_changes(spark, src, from_seq=cursor, to_seq=latest)
    cnt_col = next(
        n for n, (op, c) in aggs.items() if op == "count" and c == "*"
    )
    advance_meta = {
        IVM_META_KEY: {
            **_canon_spec(src, group_keys, aggs), "src_seq": latest,
        }
    }
    # the emptiness guard rides the checkpoint materialization as an
    # Observation (r15) — one job instead of checkpoint + take(1)
    from pyspark.sql import Observation

    obs_d = Observation()
    deltas = local_ckpt(
        _delta_aggregate(feed, group_keys, aggs)
        .observe(obs_d, F.count(F.lit(1)).alias("n")),
        eager=True,
    )
    n_deltas = int(obs_d.get["n"])
    try:
        if n_deltas == 0:
            # metadata commits only (or all deltas netted to zero):
            # advance the cursor with a metadata-only commit — an empty
            # typed batch keeps one code path through merge_into
            empty = empty_merged_table(spark, tgt)
            res = merge_into(
                spark, tgt, empty,
                keys=group_keys, order_cols=[SRC_SEQ_COL],
                is_delete=F.lit(False),
                commit_meta=advance_meta, expect_seq=dst_seq,
            )
            return {
                "from_seq": cursor, "to_seq": latest, "bootstrap": False,
                "groups_changed": 0, "groups_deleted": 0,
                "dst_seq": res["seq"],
            }

        # current values of exactly the changed groups: O(touched
        # buckets) point reads through the aggregate's own layout
        cur = lookup_merged_keys(
            spark, tgt, deltas.select(*group_keys)
        )
        pin = dict(cur.dtypes)  # lookup conforms to the target pin
        d = deltas.alias("d")
        c = cur.alias("c")
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"d.`{k}`").eqNullSafe(F.col(f"c.`{k}`"))
                for k in group_keys
            ],
        )
        new_vals = [
            (
                F.coalesce(F.col(f"c.`{n}`"), F.lit(0))
                + F.col(f"d.`__d_{n}`")
            ).cast(pin[n]).alias(n)
            for n in aggs
        ]
        obs_u = Observation()
        updates = d.join(c, cond, "left").select(
            *[F.col(f"d.`{k}`") for k in group_keys],
            *new_vals,
            F.lit(latest).cast("bigint").alias(SRC_SEQ_COL),
        ).observe(
            # the guard + both counts ride the checkpoint job (r15; was
            # one combined agg job, before that three — the refresh's
            # cost floor is its job count)
            obs_u,
            F.count(F.lit(1)).alias("n"),
            F.min(F.col(cnt_col)).alias("min_cnt"),
            F.sum((F.col(cnt_col) == 0).cast("bigint")).alias("n_dead"),
        )
        updates = local_ckpt(updates, eager=True)
        try:
            stats = obs_u.get
            if stats["min_cnt"] is not None and stats["min_cnt"] < 0:
                # a negative count means the feed was double-applied or
                # the target tampered with out-of-band — refuse before
                # committing nonsense (the exactly-once design makes
                # this unreachable; this is the loud witness if it
                # ever isn't)
                bad = updates.where(F.col(cnt_col) < 0).take(1)
                raise ValueError(
                    f"refresh_aggregate: group {bad[0].asDict()} would go "
                    f"to a negative row count at {tgt} — the feed was "
                    "applied twice or the target was modified out-of-band; "
                    "rebuild the aggregate"
                )
            n_changed = stats["n"]
            n_deleted = stats["n_dead"] or 0
            res = merge_into(
                spark, tgt, updates,
                keys=group_keys,
                order_cols=[SRC_SEQ_COL],
                is_delete=F.col(cnt_col) == F.lit(0),
                commit_meta=advance_meta,
                expect_seq=dst_seq,
            )
        finally:
            release_ckpt(updates)
        return {
            "from_seq": cursor, "to_seq": latest, "bootstrap": False,
            "groups_changed": int(n_changed),
            "groups_deleted": int(n_deleted), "dst_seq": res["seq"],
        }
    finally:
        release_ckpt(deltas)


def ivm_status(spark, source_path: str, target_path: str) -> dict:
    """Operational snapshot of a maintained aggregate — the
    no-silent-state principle applied to IVM: ``src_seq`` (the cursor),
    ``latest_src_seq``, ``lag_commits`` (source commits not yet folded
    in), ``behind`` (bool), ``at_risk`` (the cursor already fell below
    the source's vacuum horizon — the NEXT refresh will refuse; refresh
    more often than the vacuum grace), plus the stored spec.
    Read-only: takes no lease, commits nothing."""
    stored, status = feed_status(spark, source_path, target_path, IVM_META_KEY)
    return {
        **status,
        "group_keys": list(stored["group_keys"]),
        "aggs": {n: tuple(v) for n, v in stored["aggs"].items()},
    }


def read_aggregate(spark, target_path: str) -> DataFrame:
    """The maintained aggregate, internals projected away (``__bucket``,
    ``__src_seq``).  An EMPTY aggregate reads as a typed empty frame
    (the pin types it), not None — an aggregate of an empty corpus is a
    perfectly good zero-row answer."""
    df = read_merged_table(spark, target_path)
    if df is None:
        return empty_merged_table(spark, target_path).drop(SRC_SEQ_COL)
    drop = [c for c in (BUCKET_COL, SRC_SEQ_COL) if c in df.columns]
    return df.drop(*drop)
