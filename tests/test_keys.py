"""Golden pins + property tests for deterministic key generation.

Mirrors the reference's test strategy (SURVEY.md §5):
``gen-cmd-id-test`` golden pin, order-insensitivity, and the two
1000-case distinctness defspecs
(``test/lens/import_clinical_data_test.clj:261-280``).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lens_sds_batch_spark.functions import keys
from lens_sds_batch_spark.functions.keys import (
    NIL_UUID,
    Kw,
    UuidBytes,
    java_uuid_from_string,
    uuid3_str_col,
    uuid3_str_py,
    uuid5_col,
    uuid5_py,
)

# The reference test namespace (note: malformed 13-hex-digit last group,
# accepted by Java's lenient UUID.fromString — we reproduce that).
REF_NS_LITERAL = "2a302e1b-3cb4-425e-bca9-db7831d81e69d"
REF_GOLDEN = "75e752d9-c2bf-53dc-82dd-97f4c05363ec"


def test_java_lenient_uuid_parse():
    assert java_uuid_from_string(REF_NS_LITERAL) == "2a302e1b-3cb4-425e-bcad-b7831d81e69d"


def test_uuid5_reference_golden_pin_python():
    """Byte-exact parity with the reference's pinned gen-cmd-id value."""
    ns = java_uuid_from_string(REF_NS_LITERAL)
    parts = [Kw("odm-import/insert-subject"), Kw("study-id"), "S1", Kw("subject-key"), "SUB1"]
    assert uuid5_py(ns, parts) == REF_GOLDEN


def test_uuid5_reference_golden_pin_spark(spark):
    """The Catalyst column expression produces the same golden value."""
    ns = java_uuid_from_string(REF_NS_LITERAL)
    df = spark.range(1).select(
        uuid5_col(
            ns,
            [Kw("odm-import/insert-subject"), Kw("study-id"), F.lit("S1"), Kw("subject-key"), F.lit("SUB1")],
        ).alias("id")
    )
    assert df.collect()[0]["id"] == REF_GOLDEN


def test_uuid5_is_valid_rfc4122(spark):
    row = spark.range(1).select(uuid5_col(NIL_UUID, ["hello"]).alias("id")).collect()[0]
    import uuid as _uuid

    u = _uuid.UUID(row["id"])
    assert u.version == 5
    assert u.variant == _uuid.RFC_4122


def test_uuid3_spark_python_duckdb_agree(spark):
    """The oracle flavor must agree across all three runtimes; the
    DuckDB side is the emitter the oracle gate itself uses."""
    from lens_sds_batch_spark.oracle import duck_uuid3, ns_hex

    parts = [":odm-import/insert-subject", ":study-id", "S1"]
    py = uuid3_str_py(NIL_UUID, parts)
    sp = (
        spark.range(1)
        .select(uuid3_str_col(NIL_UUID, [F.lit(p) for p in parts]).alias("id"))
        .collect()[0]["id"]
    )
    duck_expr = duck_uuid3(ns_hex(f"'{NIL_UUID}'"), [f"'{p}'" for p in parts], "h", "id")
    dk = duckdb.sql(f"SELECT {duck_expr}").fetchone()[1]
    assert py == sp == dk


def test_cmd_id_order_insensitive(spark):
    """Params sorted by key ⇒ insertion order irrelevant (reference
    ``gen-cmd-id-test`` order testing), on the engine's own cmd-id
    path (``_payload`` + ``_cmd_id``) in both flavors."""
    from lens_sds_batch_spark.plans.commands import _cmd_id, _payload

    name = F.lit("foo")
    ns = F.lit(NIL_UUID)
    cols = []
    for flavor in ("md5", "sha1"):
        a = _payload(name, {"a": F.lit("1"), "b": F.lit("2")}, flavor)
        b = _payload(name, {"b": F.lit("2"), "a": F.lit("1")}, flavor)
        cols += [
            _cmd_id(a, ns, flavor).alias(f"{flavor}_a"),
            _cmd_id(b, ns, flavor).alias(f"{flavor}_b"),
        ]
    row = spark.range(1).select(F.lit("F-1").alias("file_oid")).select(*cols).collect()[0]
    assert row["md5_a"] == row["md5_b"]
    assert row["sha1_a"] == row["sha1_b"]
    # the payload is exactly gen-cmd-id's: name, then sorted key/value pairs
    assert row["md5_a"] == uuid3_str_py(NIL_UUID, [":foo", ":a", "1", ":b", "2"])
    assert row["sha1_a"] == uuid5_py(NIL_UUID, [Kw("foo"), Kw("a"), "1", Kw("b"), "2"])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=30), min_size=2, max_size=2, unique=True))
def test_distinct_names_distinct_ids(names):
    """reference defspec gen-cmd-id-name-distinct (1000 cases)."""
    a, b = names
    assert uuid5_py(NIL_UUID, [Kw(a)]) != uuid5_py(NIL_UUID, [Kw(b)])
    assert uuid3_str_py(NIL_UUID, [a]) != uuid3_str_py(NIL_UUID, [b])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=30), min_size=2, max_size=2, unique=True))
def test_distinct_param_values_distinct_ids(vals):
    """reference defspec gen-cmd-id-param-distinct (1000 cases)."""
    a, b = vals
    pa = [Kw("foo"), Kw("bar"), a]
    pb = [Kw("foo"), Kw("bar"), b]
    assert uuid5_py(NIL_UUID, pa) != uuid5_py(NIL_UUID, pb)


def test_entity_key_chain():
    """SURVEY §1.1 derivation chain: each level namespaced by parent id."""
    study = uuid5_py(NIL_UUID, ["S1"])
    subject = uuid5_py(study, ["SUB1"])
    se = uuid5_py(subject, ["SE1"])
    form = uuid5_py(se, ["F1"])
    ig = uuid5_py(form, ["IG1"])
    item = uuid5_py(ig, ["I1"])
    assert len({study, subject, se, form, ig, item}) == 6
    # stability pin (regression guard for our own algorithm)
    assert study == uuid5_py(NIL_UUID, ["S1"])


def test_uuid_columns_are_non_nullable(spark):
    """Nullability contract pin (r5): the uuid formatters must stay
    NON-nullable.  A nullable uuid column makes every downstream join
    push an isnotnull(<whole uuid expression>) Filter below the
    projection, re-evaluating the md5/sha1 per row with no CSE across
    the Filter/Project boundary — measured correlate_first_event
    4.7s → 6.9s at sf0.1 when this regressed.  If this pin fails, read
    functions/keys._fmt_uuid's docstring before 'fixing' it."""
    from pyspark.sql import functions as F

    from lens_sds_batch_spark.functions.keys import NIL_UUID, uuid3_str_col, uuid5_col

    df = spark.createDataFrame([("x",)], "v string").select(
        uuid3_str_col(NIL_UUID, [F.col("v")]).alias("u3"),
        uuid5_col(NIL_UUID, [F.col("v").cast("binary")]).alias("u5"),
    )
    assert not df.schema["u3"].nullable, "uuid3_str_col became nullable (plan-poisoning)"
    assert not df.schema["u5"].nullable, "uuid5_col became nullable (plan-poisoning)"


ADVERSARIAL = [
    "plain",
    "",
    "it's",
    'a"b',
    "back\\slash",
    "semi;colon--comment",
    "line\nbreak",
    "unié中",
    "' OR 1=1 --",
    ":kw/with-colons",
    "  spaces  ",
]


def test_fast_path_equals_python_and_fallback_adversarial(spark):
    """Both builders equal their Python goldens (uuid3_str_py /
    uuid5_py) over adversarial strings (quotes, backslashes, newlines,
    unicode, SQL-ish fragments) as a literal str part, a bare column
    part and a non-bare expression part.  The name is that of the
    SQL-string fast path the builders once had beside the composed
    path; each flavor now builds one composed tree, and every part
    shape must still agree with the golden."""
    df = spark.createDataFrame([(s,) for s in ADVERSARIAL], "v string")
    shapes = {"col": F.col("v"), "expr": F.concat(F.col("v"), F.lit(""))}
    cols = []
    for name, c in shapes.items():
        cols.append(uuid3_str_col(NIL_UUID, [c]).alias(f"u3_{name}"))
        cols.append(uuid5_col(NIL_UUID, [c]).alias(f"u5_{name}"))
    for i, s in enumerate(ADVERSARIAL):
        cols.append(uuid3_str_col(NIL_UUID, [s]).alias(f"u3_lit{i}"))
        cols.append(uuid5_col(NIL_UUID, [s]).alias(f"u5_lit{i}"))
    out = df.select("v", *cols).collect()
    by_v = {r["v"]: r for r in out}
    for i, s in enumerate(ADVERSARIAL):
        r = by_v[s]
        py3, py5 = uuid3_str_py(NIL_UUID, [s]), uuid5_py(NIL_UUID, [s])
        for name in shapes:
            assert r[f"u3_{name}"] == py3, f"md5 {name} part broke on {s!r}"
            assert r[f"u5_{name}"] == py5, f"sha1 {name} part broke on {s!r}"
        # literal parts: the same value in every row
        assert out[0][f"u3_lit{i}"] == py3, f"md5 literal part broke on {s!r}"
        assert out[0][f"u5_lit{i}"] == py5, f"sha1 literal part broke on {s!r}"


def test_fast_path_keyword_and_reserved_column_names(spark):
    """A column named like a zero-arg function (``current_date``) hashes
    the column's value, not the function's, and a column named like a
    reserved word (``order``) builds without a parse error, in both
    flavors; a Kw part beside such a column hashes like the golden."""
    rows = [(s, s) for s in ADVERSARIAL]
    df = spark.createDataFrame(rows, "current_date string, order string")
    out = df.select(
        "order",
        uuid3_str_col(NIL_UUID, [F.col("current_date")]).alias("u3_fn"),
        uuid5_col(NIL_UUID, [F.col("current_date")]).alias("u5_fn"),
        uuid3_str_col(NIL_UUID, [F.col("order")]).alias("u3_kw"),
        uuid5_col(NIL_UUID, [F.col("order")]).alias("u5_kw"),
        uuid5_col(NIL_UUID, [Kw("k"), F.col("order")]).alias("u5_kwpart"),
    ).collect()
    for r in out:
        s = r["order"]
        py3, py5 = uuid3_str_py(NIL_UUID, [s]), uuid5_py(NIL_UUID, [s])
        assert r["u3_fn"] == r["u3_kw"] == py3, f"md5 named column broke on {s!r}"
        assert r["u5_fn"] == r["u5_kw"] == py5, f"sha1 named column broke on {s!r}"
        assert r["u5_kwpart"] == uuid5_py(NIL_UUID, [Kw("k"), s]), f"Kw part broke on {s!r}"


def test_fast_path_literal_columns_and_bound_columns(spark):
    """Column literals hash their value: md5 hashes F.lit(True) as the
    string 'true' (sha1 hashes bytes, and a boolean has no binary
    cast), and sha1 takes a UuidBytes part as the namespace's bytes.  A
    DataFrame-bound column (a['v'] after a join that makes the free
    name ``v`` ambiguous) keeps its binding in both flavors.  md5
    refuses a Kw or UuidBytes part where it is called: its text would
    be the object repr, an id that changes from process to process."""
    row = spark.range(1).select(
        uuid3_str_col(NIL_UUID, [F.lit(True)]).alias("u3_bool"),
        uuid5_col(NIL_UUID, [UuidBytes(NIL_UUID), "x"]).alias("u5_uuid"),
    ).first()
    assert row["u3_bool"] == uuid3_str_py(NIL_UUID, ["true"])
    assert row["u5_uuid"] == uuid5_py(NIL_UUID, [UuidBytes(NIL_UUID), "x"])

    a = spark.createDataFrame([(1, "va")], "k int, v string")
    b = spark.createDataFrame([(1, "vb")], "k int, v string")
    j = a.join(b, "k")
    got = j.select(
        uuid3_str_col(NIL_UUID, [a["v"]]).alias("u3"),
        uuid5_col(NIL_UUID, [a["v"]]).alias("u5"),
    ).first()
    assert got["u3"] == uuid3_str_py(NIL_UUID, ["va"])
    assert got["u5"] == uuid5_py(NIL_UUID, ["va"])

    for part in (Kw("k"), UuidBytes(NIL_UUID)):
        for fn in (uuid3_str_col, uuid3_str_py):
            with pytest.raises(
                ValueError, match=f"{fn.__name__}: a {type(part).__name__} part"
            ):
                fn(NIL_UUID, [part, "x"])


def test_uuid5_uuidbytes_quote_value_fast_equals_fallback(spark):
    """A quote-bearing UuidBytes value is hashed as data, never parsed:
    its non-hex text unhexes to a NULL payload, which RAISES under the
    default guard (an escaping bug would instead give a valid-looking
    id), and under the explicit waiver formats the empty-string
    degenerate id, alike for a literal and a Column namespace."""
    bad = UuidBytes("a'||'b")
    for ns in (NIL_UUID, F.lit(NIL_UUID)):
        with pytest.raises(Exception, match="NULL id payload"):
            spark.range(1).select(uuid5_col(ns, [bad]).alias("u")).first()
        waived = spark.range(1).select(uuid5_col(ns, [bad], on_null="empty").alias("u"))
        assert waived.first()["u"] == ""


def test_null_payload_raises_by_default_and_waives_explicitly(spark):
    """VERDICT r6 #5: guard_payload is the DEFAULT formatter path — a
    NULL part must RAISE at execution (column and expression parts
    alike), never silently collapse to the empty-string degenerate
    id; on_null="empty" is the explicit waiver that restores the old
    behavior for pre-guarded callers."""
    df = spark.createDataFrame([("x",), (None,)], "v string")

    for mk in (
        lambda d: d.select(uuid3_str_col(NIL_UUID, [F.col("v")]).alias("u")),
        lambda d: d.select(
            uuid3_str_col(NIL_UUID, [F.upper(F.col("v"))]).alias("u")
        ),
        lambda d: d.select(
            uuid5_col(NIL_UUID, [F.col("v").cast("binary")]).alias("u")
        ),
    ):
        with pytest.raises(Exception, match="NULL id payload"):
            mk(df).collect()
        # guard is short-circuited: non-null rows alone pass unchanged
        ok = mk(df.where(F.col("v").isNotNull())).collect()
        assert len(ok) == 1 and len(ok[0]["u"]) == 36

    # explicit waiver: legacy empty-payload collapse, non-nullable out
    waived = df.select(
        uuid3_str_col(NIL_UUID, [F.col("v")], on_null="empty").alias("u")
    ).collect()
    assert len(waived) == 2  # no raise
    # the NULL row collapses to the degenerate empty string (concat
    # null-propagates the payload; concat_ws then skips every NULL
    # fragment) — exactly the legacy behavior the waiver preserves
    assert sorted(len(r["u"]) for r in waived) == [0, 36]

    with pytest.raises(ValueError, match="on_null"):
        uuid3_str_col(NIL_UUID, ["a"], on_null="bogus")


def test_null_guard_does_not_change_nullability_or_goldens(spark):
    """The default guard must not flip the non-nullability contract
    (test_uuid_columns_are_non_nullable) nor any golden value."""
    df = spark.createDataFrame([("S1",)], "v string").select(
        uuid3_str_col(NIL_UUID, [F.col("v")]).alias("u3"),
        uuid5_col(NIL_UUID, [F.col("v").cast("binary")]).alias("u5"),
    )
    assert not df.schema["u3"].nullable and not df.schema["u5"].nullable
    row = df.collect()[0]
    assert row["u3"] == uuid3_str_py(NIL_UUID, ["S1"])
    assert row["u5"] == uuid5_py(NIL_UUID, ["S1"])


@pytest.mark.parametrize(
    "bad_ns",
    [
        "0000000g-0000-0000-0000-000000000000",  # non-hex digit
        "000-0000-0000-0000-000000000000",  # odd hex length
        "not-a-uuid",
        "a'||'b",  # quote-bearing text
        "2a302e1b-3cb4-425e-bca9-db7831d81e69d",  # 33 digits: Java-lenient only
    ],
)
def test_uuid5_malformed_literal_namespace_refused_at_call_site(spark, bad_ns):
    """A literal namespace that is not 32 hex digits once the dashes
    are removed is refused where the builder is called, naming the
    function and the bad value, for every part shape and both flavors,
    through ``generate_commands`` (scalar ``batch_cmd_id``) and through
    ``batch_cmd_id_map``.  Unchecked, sha1 unhexes it to a NULL
    namespace (every id of the batch collapsing to one degenerate
    value) and md5 hashes the raw text."""
    from lens_sds_batch_spark.plans.commands import batch_cmd_id_map, generate_commands
    from lens_sds_batch_spark.plans.odm import derive_odm_from_tpch

    from .conftest import SF_SMOKE

    bare, expr = F.col("x"), F.concat(F.lit("x"), F.lit(""))
    for fn, name in ((uuid5_col, "uuid5_col"), (uuid3_str_col, "uuid3_str_col")):
        for parts in ([bare], [expr], ["x"]):
            with pytest.raises(ValueError, match=f"{name}: literal namespace") as ei:
                fn(bad_ns, parts)
            assert repr(bad_ns) in str(ei.value)
            fn(NIL_UUID, parts)  # a well-formed namespace still builds
    odm = derive_odm_from_tpch(spark, SF_SMOKE)
    for flavor, name in (("sha1", "uuid5_col"), ("md5", "uuid3_str_col")):
        with pytest.raises(ValueError, match=f"{name}: literal namespace"):
            generate_commands(odm, bad_ns, "sub", persist=False, flavor=flavor)
    with pytest.raises(ValueError, match="batch_cmd_id_map: literal namespace") as ei:
        batch_cmd_id_map({"F-1": NIL_UUID, "F-2": bad_ns})
    assert repr(bad_ns) in str(ei.value)


def test_column_namespace_null_or_unhexable_fails_the_job(spark):
    """A Column ``batch_cmd_id`` that is NULL on a row (for sha1, also
    one that does not unhex) fails the job naming the row's file_oid,
    in both flavors; unguarded, every cmd id of those rows formats as
    the one degenerate id ``""``.  PER_FILE and literal namespaces are
    known well-formed and their plans carry no such guard."""
    from lens_sds_batch_spark.plans.commands import PER_FILE, generate_commands
    from lens_sds_batch_spark.plans.odm import SUB, derive_odm_from_tpch

    from .conftest import SF_SMOKE

    odm = derive_odm_from_tpch(spark, SF_SMOKE)
    bad = [("md5", F.lit(None).cast("string")), ("sha1", F.lit(None).cast("string")),
           ("sha1", F.lit("not-a-uuid"))]
    for flavor, ns in bad:
        cmds = generate_commands(odm, ns, SUB, persist=False, flavor=flavor)
        with pytest.raises(Exception, match="batch_cmd_id namespace is NULL.*file_oid=F-"):
            cmds.select("cmd_id").collect()
    for flavor in ("md5", "sha1"):
        for ns in (PER_FILE, NIL_UUID):
            plan = generate_commands(odm, ns, SUB, persist=False, flavor=flavor)._jdf
            assert "batch_cmd_id namespace" not in plan.queryExecution().optimizedPlan().toString()
