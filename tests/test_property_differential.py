"""Differential property test: the DataFrame command pipeline vs an
independent node-at-a-time Python walker that directly transcribes the
reference's dispatch semantics (``import_clinical_data.clj:92-263``).

Hypothesis generates random tx-type assignments over a fixed small
tree; both implementations must emit the same command multiset.  This
is the system-level analog of the reference's test.check defspecs
(SURVEY.md §5), and it exercises corner cases the fixed testdata never
hits (e.g. upsert-over-remove nesting).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lens_sds_batch_spark.plans.commands import generate_commands
from lens_sds_batch_spark.plans.odm import OdmTables

FILE = "F-P1"
BATCH = "00000000-0000-0000-0000-0000000000aa"
SUB = "prop"

TX = st.sampled_from([None, "insert", "update", "upsert", "remove"])

# fixed tree shape: 2 subjects x 2 study-events x 1 form x 1 ig x 2 items
SUBJECTS = ["SK1", "SK2"]
SES = ["SE1", "SE2"]
ITEMS = ["I1", "I2"]


def walk_reference(tx: dict) -> set[tuple]:
    """Node-at-a-time walk, transcribing the reference's multimethods:
    resolved = node.tx or parent_tx (top default insert);
    insert/upsert -> command + cascade; update -> cascade only (leaf
    items DO emit update-item); remove -> command, NO cascade."""
    out: set[tuple] = set()

    def visit(level, path, node_tx, parent_tx):
        rtx = node_tx or parent_tx
        if rtx == "remove":
            out.add((f"remove-{level}", path))
            return False  # no cascade
        if rtx in ("insert", "upsert"):
            out.add((f"{rtx}-{level}", path))
        elif rtx == "update" and level == "item":
            out.add(("update-item", path))
        return True  # cascade with rtx as parent tx

    for sk in SUBJECTS:
        if not visit("subject", (sk,), tx[(sk,)], "insert"):
            continue
        s_rtx = tx[(sk,)] or "insert"
        for se in SES:
            if not visit("study-event", (sk, se), tx[(sk, se)], s_rtx):
                continue
            se_rtx = tx[(sk, se)] or s_rtx
            if not visit("form", (sk, se, "FM1"), tx[(sk, se, "FM1")], se_rtx):
                continue
            f_rtx = tx[(sk, se, "FM1")] or se_rtx
            if not visit("item-group", (sk, se, "FM1", "IG1"), None, f_rtx):
                continue
            g_rtx = f_rtx
            for it in ITEMS:
                visit("item", (sk, se, "FM1", "IG1", it), tx[(sk, se, "FM1", "IG1", it)], g_rtx)
    return out


def build_tables(spark, tx: dict) -> OdmTables:
    files = spark.createDataFrame(
        [(FILE, "transactional", BATCH, SUB)],
        "file_oid string, file_type string, batch_cmd_id string, sub string",
    )
    subs, ses, fms, igs, its = [], [], [], [], []
    for sk in SUBJECTS:
        subs.append((FILE, "S1", sk, tx[(sk,)]))
        for se in SES:
            ses.append((FILE, "S1", sk, se, tx[(sk, se)]))
            fms.append((FILE, "S1", sk, se, "FM1", tx[(sk, se, "FM1")]))
            igs.append((FILE, "S1", sk, se, "FM1", "IG1", None))
            for it in ITEMS:
                its.append(
                    (FILE, "S1", sk, se, "FM1", "IG1", it, tx[(sk, se, "FM1", "IG1", it)], "string", "v")
                )
    return OdmTables(
        files=files,
        subjects=spark.createDataFrame(subs, "file_oid string, study_oid string, subject_key string, tx_type string"),
        study_events=spark.createDataFrame(
            ses, "file_oid string, study_oid string, subject_key string, study_event_oid string, tx_type string"
        ),
        forms=spark.createDataFrame(
            fms,
            "file_oid string, study_oid string, subject_key string, study_event_oid string, form_oid string, tx_type string",
        ),
        item_groups=spark.createDataFrame(
            igs,
            "file_oid string, study_oid string, subject_key string, study_event_oid string, form_oid string, item_group_oid string, tx_type string",
        ),
        items=spark.createDataFrame(
            its,
            "file_oid string, study_oid string, subject_key string, study_event_oid string, form_oid string, "
            "item_group_oid string, item_oid string, tx_type string, data_type string, value_canon string",
        ),
    )


def extract_spark(cmds) -> set[tuple]:
    out = set()
    for r in cmds.collect():
        verb_entity = r["name"].removeprefix("odm-import/")
        path = tuple(
            p
            for p in (
                r["subject_key"], r["study_event_oid"], r["form_oid"],
                r["item_group_oid"], r["item_oid"],
            )
            if p is not None
        )
        out.add((verb_entity, path))
    return out


TX_KEYS = (
    [(sk,) for sk in SUBJECTS]
    + [(sk, se) for sk in SUBJECTS for se in SES]
    + [(sk, se, "FM1") for sk in SUBJECTS for se in SES]
    + [(sk, se, "FM1", "IG1", it) for sk in SUBJECTS for se in SES for it in ITEMS]
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TX, min_size=len(TX_KEYS), max_size=len(TX_KEYS)))
def test_pipeline_matches_reference_walk(spark, txs):
    tx = dict(zip(TX_KEYS, txs))
    expected = walk_reference(tx)
    got = extract_spark(generate_commands(build_tables(spark, tx), BATCH, SUB, persist=False))
    assert got == expected


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),          # merge key
            st.integers(min_value=0, max_value=9),        # recency
            st.sampled_from(["a", "b", "c"]),             # payload
            st.booleans(),                                # tombstone
        ),
        min_size=0,
        max_size=24,
    )
)
def test_apply_lww_matches_python_reference(spark, rows):
    """Differential property: apply_lww (window row_number over the
    recency chain, tombstone drop) vs an independent Python dict-fold
    LWW over random CDC streams.  Ties on (key, recency) are broken by
    the payload and tombstone columns in BOTH implementations so the
    property is fully deterministic (duplicate rows differing only in
    the tombstone flag would otherwise rank nondeterministically)."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import apply_lww

    py_state: dict = {}
    for k, pri, val, dead in rows:
        cur = py_state.get(k)
        if cur is None or (pri, val, dead) >= cur:
            py_state[k] = (pri, val, dead)
    expected = {(k, v[1]) for k, v in py_state.items() if not v[2]}

    df = spark.createDataFrame(
        rows or [("__none__", 0, "a", True)],
        "k string, pri int, v string, dead boolean",
    )
    got = apply_lww(
        df,
        keys=["k"],
        order_cols=[F.col("pri"), F.col("v"), F.col("dead")],
        is_delete=F.col("dead"),
    )
    got_set = {(r["k"], r["v"]) for r in got.collect() if r["k"] != "__none__"}
    assert got_set == expected


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    target=st.lists(
        st.tuples(st.sampled_from(["k1", "k2", "k3", "k4"]),
                  st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
                  st.sampled_from(["t1", "t2"])),
        min_size=0, max_size=4,
        unique_by=lambda r: r[0],  # stored state is key-unique
    ),
    updates=st.lists(
        st.tuples(st.sampled_from(["k1", "k2", "k3", "k4"]),
                  st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
                  st.sampled_from(["s1", "s2"]),
                  # None exercises the NULL-tombstone normalization: the
                  # merge contract coalesces NULL -> False (keep), which
                  # the model's `not dead` / `not s[2]` truthiness already
                  # states (r8 continuation review)
                  st.one_of(st.none(), st.booleans())),
        min_size=1, max_size=8,
        unique_by=lambda r: (r[0], r[1]),  # no within-batch order ties:
        # those resolve by the shared xxhash64 (pinned deterministically
        # in test_merge_tie_break_total_ordering); this property covers
        # the ORDERING + target-wins-ties contract, which a Python model
        # can state without replicating Spark's hash
    ),
)
def test_merge_into_matches_delta_semantics_model(spark, target, updates):
    """Differential property (r8): merge_into vs a pure-Python model of
    the Delta MERGE contract (the reference semantics a MERGE INTO port
    must keep) — collapse the source
    to its per-key winner by the order chain, then strict
    'source newer than target' decides update/keep, exact ties keep
    the TARGET, tombstone winners delete, unmatched non-tombstones
    insert.  Target-vs-source order ties occur freely in the generated
    data, so the r8 total-ordering fix is exercised broadly."""
    import tempfile

    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import merge_into

    def _newer(a, b):  # null-safe strict "a newer than b", NULL = oldest
        if a is None:
            return False
        return b is None or a > b

    src_best: dict = {}
    for k, pri, val, dead in updates:
        cur = src_best.get(k)
        if cur is None or _newer(pri, cur[0]):
            src_best[k] = (pri, val, dead)
    expected = set()
    tgt_keys = set()
    for k, pri, val in target:
        tgt_keys.add(k)
        s = src_best.get(k)
        if s is not None and _newer(s[0], pri):   # strictly newer source
            if not s[2]:
                expected.add((k, s[1]))           # whenMatchedUpdate
            # else whenMatchedDelete: key disappears
        else:
            expected.add((k, val))                # tie or older: target kept
    for k, (pri, val, dead) in src_best.items():
        if k not in tgt_keys and not dead:
            expected.add((k, val))                # whenNotMatchedInsert

    from lens_sds_batch_spark.plans.merge import read_merged_table

    d = tempfile.mkdtemp(prefix="merge_prop_")
    tgt_df = (
        spark.createDataFrame(
            [(k, p, v, False) for k, p, v in target],
            "k string, pri int, v string, dead boolean",
        )
        if target
        else None
    )
    upd = spark.createDataFrame(updates, "k string, pri int, v string, dead boolean")

    def _got(path):
        df = read_merged_table(spark, path)
        return set() if df is None else {(r["k"], r["v"]) for r in df.collect()}

    # Default layout (no layout arguments: one bucket).  The stored
    # state is materialized as the FIRST batch (keys are unique and
    # non-tombstone, so LWW(target) == target), then the update batch
    # merges against it.
    tgt_path = d + "/state"
    if tgt_df is not None:
        merge_into(spark, tgt_path, tgt_df, keys=["k"], order_cols=["pri"],
                   is_delete=F.lit(False))
    merge_into(spark, tgt_path, upd, keys=["k"], order_cols=["pri"], is_delete=F.col("dead"))
    assert _got(tgt_path) == expected

    # Same model, explicitly BUCKETED manifest layout (r11/r12): the
    # pruned per-bucket path and the one-file commit must land on the
    # identical Delta-contract result.  The bucket count varies per
    # example, including the degenerate N=1 (every key in one bucket —
    # the protocol must still route, stage, and empty it).  Snapshot
    # differential rides along: after the merge, the PRE-merge seq must
    # still read as exactly the pre-merge state — time travel pinned
    # across the same random examples.
    n_buckets = 1 + (len(updates) + len(target)) % 4  # 1..4, example-derived
    mtgt = d + "/state_manifest"
    if tgt_df is not None:
        pre = merge_into(
            spark, mtgt, tgt_df, keys=["k"], order_cols=["pri"],
            is_delete=F.lit(False), num_buckets=n_buckets, protocol="manifest",
        )
        res = merge_into(
            spark, mtgt, upd, keys=["k"], order_cols=["pri"], is_delete=F.col("dead")
        )
        assert res["engine"] == "parquet-manifest"
        snap = read_merged_table(spark, mtgt, as_of_seq=pre["seq"])
        snap_got = (
            set() if snap is None
            else {(r["k"], r["v"]) for r in snap.collect()}
        )
        assert snap_got == {(k, v) for k, _p, v in target}
    else:
        merge_into(
            spark, mtgt, upd, keys=["k"], order_cols=["pri"],
            is_delete=F.col("dead"), num_buckets=n_buckets, protocol="manifest",
        )
    assert _got(mtgt) == expected


# ---------------------------------------------------------------------------
# r13: randomized merge+evolution lifecycle vs a Python model — the
# schema-evolution analog of the Delta-semantics property above.  A
# random interleaving of LWW merge batches, NULL-backed column adds,
# and one int->bigint widen must land both the default and an explicit
# bucketed layout on the state a plain dict model predicts, with pre-add
# rows reading typed NULLs and post-widen dtypes visible in the resolver
# read.
# ---------------------------------------------------------------------------

_EVO_KEYS = ["k1", "k2", "k3"]
_EVO_BATCH = st.lists(
    st.tuples(
        st.sampled_from(_EVO_KEYS),
        st.integers(min_value=0, max_value=9),
        st.sampled_from(["v1", "v2"]),
        st.booleans(),
    ),
    min_size=1, max_size=4,
    unique_by=lambda r: (r[0], r[1]),  # ties pinned elsewhere (xxhash64)
)
_EVO_STEP = st.one_of(
    st.tuples(st.just("merge"), _EVO_BATCH),
    st.tuples(st.just("add"), st.just(None)),
    st.tuples(st.just("widen"), st.just(None)),
    # maintenance is state-INVARIANT by contract — interleaving it at
    # random points must never change what the model predicts
    st.tuples(st.just("maintain"), st.just(None)),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    layout=st.sampled_from(
        [{}, {"num_buckets": 2, "protocol": "manifest"}]
    ),
    first=_EVO_BATCH,
    steps=st.lists(_EVO_STEP, min_size=1, max_size=5),
)
def test_merge_evolve_lifecycle_matches_model(spark, layout, first, steps):
    import tempfile

    from pyspark.sql import functions as F

    from lens_sds_batch_spark.plans.merge import (
        evolve_schema,
        merge_into,
        read_merged_table,
    )

    d = tempfile.mkdtemp(prefix="evolve_prop_")
    tgt = d + "/state"
    added: list[str] = []   # extra columns added so far (extra1, extra2)
    widened = False
    state: dict = {}        # k -> (pri, v, {extra: value})

    def extras_for(k, pri):
        # deterministic generated values for whatever columns exist NOW
        return {c: f"{c[-1]}:{k}:{pri}" for c in added}

    def model_merge(batch):
        best: dict = {}
        for k, pri, v, dead in batch:
            cur = best.get(k)
            if cur is None or pri > cur[0]:
                best[k] = (pri, v, dead)
        for k, (pri, v, dead) in best.items():
            cur = state.get(k)
            if cur is not None and pri <= cur[0]:
                continue  # tie or older: target kept
            if dead:
                state.pop(k, None)
            else:
                state[k] = (pri, v, extras_for(k, pri))

    def spark_merge(batch, **kw):
        schema = "k string, pri {} , v string, dead boolean".format(
            "bigint" if widened else "int"
        ) + "".join(f", {c} string" for c in added)
        rows = [
            (k, pri, v, dead, *[extras_for(k, pri)[c] for c in added])
            for k, pri, v, dead in batch
        ]
        merge_into(
            spark, tgt, spark.createDataFrame(rows, schema),
            keys=["k"], order_cols=["pri"], is_delete=F.col("dead"), **kw,
        )

    spark_merge(first, **layout)
    model_merge(first)

    for op, payload in steps:
        if op == "merge":
            spark_merge(payload)
            model_merge(payload)
        elif op == "add" and len(added) < 2:
            col = f"extra{len(added) + 1}"
            evolve_schema(spark, tgt, add={col: "string"})
            added.append(col)  # older stored rows read NULL for it
        elif op == "widen" and not widened:
            evolve_schema(spark, tgt, widen={"pri": "bigint"})
            widened = True
        elif op == "maintain":
            from lens_sds_batch_spark.plans.merge import maintain_merged_table

            maintain_merged_table(spark, tgt, grace_sec=0.0)

    out = read_merged_table(spark, tgt)
    if out is None:
        assert state == {}
        return
    dtypes = dict(out.dtypes)
    assert dtypes["pri"] == ("bigint" if widened else "int")
    for c in added:
        assert dtypes[c] == "string"
    got = {
        r["k"]: (r["pri"], r["v"], {c: r[c] for c in added})
        for r in out.collect()
    }
    want = {
        k: (pri, v, {c: ex.get(c) for c in added})
        for k, (pri, v, ex) in state.items()
    }
    assert got == want
