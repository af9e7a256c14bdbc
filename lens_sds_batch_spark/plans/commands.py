"""tx-type resolution + command generation (reference A10-A15, A17-A19).

The reference walks the tree node-at-a-time, dispatching each node on
``coalesce(node.tx_type, parent_tx, 'insert')``
(``import_clinical_data.clj:92-100``) and emitting one command per node
(constructors at ``:24-69``).  Here each hierarchy *level* is one
DataFrame pass:

- tx resolution   = a parent-child equi-join on the OID path + coalesce
- remove pruning  = filter ``parent_rtx != 'remove'`` (remove does NOT
                    cascade — proven by reference test ``:208-220``)
- command rows    = per-verb projections unioned by name
- identity        = deterministic uuid chain (A17) + command-id hashing
                    over ``{name} ++ sorted(params ∪ {file-oid})`` (A18;
                    file-oid is hashed too because ``assoc-file-oid``
                    wraps send-command *before* ``command`` builds the id,
                    ``import_clinical_data.clj:271-273,291-297``).

Upsert exists at every level here (strict superset of the reference,
which only has it for subject/study-event — quirk Q2 in SURVEY.md §7.4).

Output is one flat commands DataFrame (columns below) — flat rather than
a params struct so the DuckDB oracle can hash-compare it directly.
"""

from __future__ import annotations

from functools import cache, reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.keys import NIL_UUID, guard_payload, keyfn, literal_ns_hex
from ..session import local_ckpt
from .odm import IG_OID, OdmTables


# sentinel for generate_commands(batch_cmd_id=...): derive the batch
# namespace per row from file_oid, using the SAME flavor as the command
# hashing (passing per_file_batch_cmd_id() directly risks silently
# mixing an md5 namespace with sha1 cmd hashing)
PER_FILE = "per-file"


def batch_cmd_id_map(meta: dict[str, str]) -> Column:
    """Per-row batch-cmd-id looked up from a small ``{file_oid:
    batch_cmd_id}`` mapping — the reference's batch-command QUEUE
    metadata (each queued batch command carries its externally-assigned
    id, ``broker.clj:157-169``).  Lets ONE ``generate_commands`` pass
    process a multi-file micro-batch without a per-file driver loop
    (the collect-and-loop shape that doesn't scale); the map is a
    literal expression, broadcast-sized by nature (one entry per
    in-flight batch command).

    A ``file_oid`` absent from the map FAILS THE JOB (raise_error), not
    silently NULLs: ``element_at`` returns NULL for a missing key, that
    NULL would flow into every cmd_id of the whole file, and nothing
    downstream consumes NULL ids — a stale queue-metadata map would
    lose the file's commands without a trace (ADVICE r4).  Each id must
    be uuid text (:func:`functions.keys.literal_ns_hex`): a malformed
    one is refused here, at the call site, instead of hashing every
    command of its file into a degenerate namespace."""
    pairs: list[Column] = []
    for k in sorted(meta):
        literal_ns_hex("batch_cmd_id_map", meta[k])
        pairs.append(F.lit(k))
        pairs.append(F.lit(meta[k]))
    return F.coalesce(
        F.element_at(F.create_map(*pairs), F.col("file_oid")),
        F.raise_error(
            F.concat(
                F.lit("batch_cmd_id_map: file_oid not in queue metadata map: "),
                F.coalesce(F.col("file_oid"), F.lit("<NULL>")),
            )
        ),
    )


def per_file_batch_cmd_id(flavor: str = "md5") -> Column:
    """Per-row batch-cmd-id derived from ``file_oid`` — the multi-file
    batch entry point.  The reference consumes a *queue* of batch
    commands, one per ODM file, and namespaces every generated cmd id
    under its own batch command's id (``broker.clj:157-169``,
    ``import_clinical_data.clj:288-297``: ``gen-cmd-id`` hashes into the
    batch-cmd-id namespace).  Prefer
    ``generate_commands(batch_cmd_id=PER_FILE, flavor=...)``, which
    calls this with the command-hash flavor so the namespace and cmd-id
    flavors can't diverge: N files in one DataFrame run, each file's
    commands namespaced under its own deterministic batch id — a pure
    projection, no join, so the multi-file path costs nothing extra at
    scale."""
    return keyfn(flavor)(NIL_UUID, [F.lit("batch-cmd"), F.col("file_oid")])


COMMAND_COLUMNS = (
    "cmd_id",
    "name",
    "sub",
    "file_oid",
    "study_oid",
    "subject_key",
    "study_event_oid",
    "form_oid",
    "item_group_oid",
    "item_oid",
    "data_type",
    "value_canon",
    "parent_id",
    "item_id",
)

# each level's OID path: its commands' path columns, and the join keys
# of its child level's tx resolution
_PATH = {
    "subjects": ["file_oid", "study_oid", "subject_key"],
    "study_events": ["file_oid", "study_oid", "subject_key", "study_event_oid"],
    "forms": ["file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid"],
    "item_groups": [
        "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid", "item_group_oid",
    ],
    "items": [
        "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid", "item_group_oid",
        "item_oid",
    ],
}

# The one command rule per level (the reference's per-node constructors,
# import_clinical_data.clj:24-69): entity, hashed params (param -> source
# column; every level also hashes file-oid) and the parent id column.
# Items hash a per-verb payload instead (_item_rule).
_LEVELS = {
    "subjects": ("subject", {"study-id": "study_id", "subject-key": "subject_key"}, "study_id"),
    "study_events": (
        "study-event",
        {"subject-id": "subject_id", "study-event-oid": "study_event_oid"},
        "subject_id",
    ),
    "forms": ("form", {"study-event-id": "study_event_id", "form-oid": "form_oid"}, "study_event_id"),
    "item_groups": (
        "item-group", {"form-id": "form_id", "item-group-oid": "item_group_oid"}, "form_id",
    ),
    "items": ("item", None, "item_group_id"),
}


def _null(name):
    return F.lit(None).cast("string").alias(name)


def _col_or_lit(v: str | Column) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


def _namespace(batch_cmd_id: str | Column, flavor: str) -> str | Column:
    """The cmd-id namespace of a ``batch_cmd_id`` argument (see
    :func:`generate_commands`): :data:`PER_FILE` resolves here, once,
    with the command-hash flavor; a literal uuid string goes to the
    uuid builder as it is, which refuses a malformed one at the call
    site.  A caller's Column is guarded per row: :func:`_cmd_id` waives
    the builder's NULL guard for its own contextual one, which covers
    the payload only, so a NULL namespace (for sha1, also one that does
    not unhex) would format every cmd id of its rows as ``""``."""
    if isinstance(batch_cmd_id, Column):
        enc = batch_cmd_id if flavor == "md5" else F.unhex(
            F.regexp_replace(batch_cmd_id, "-", "")
        )
        return F.when(enc.isNull(), F.raise_error(F.concat(
            F.lit("generate_commands: batch_cmd_id namespace is NULL (sha1: or "
                  "not uuid hex); every cmd id would collapse to one value; file_oid="),
            F.coalesce(F.col("file_oid"), F.lit("<NULL>")),
        ))).otherwise(batch_cmd_id)
    if batch_cmd_id == PER_FILE:
        return per_file_batch_cmd_id(flavor)
    return batch_cmd_id


# params whose values are entity uuids — clj-uuid encodes these as their
# 16 raw bytes in the v5 name payload (reference util.clj UUIDNameBytes)
_UUID_PARAMS = frozenset(
    {"study-id", "subject-id", "study-event-id", "form-id", "item-group-id", "item-id"}
)
_NIL_SENTINEL = ":nil"  # deterministic stand-in for a NULL param value


def _payload(name_col, params: dict, flavor: str = "md5"):
    """The cmd-id hash payload: ':name' ++ sorted ':key' value pairs
    (A18, reference ``gen-cmd-id`` at ``import_clinical_data.clj:288-289``:
    ``(conj (flatten (sort-by first params)) name)``).  ``name_col`` is a
    Column so one projection covers every verb of a level.

    NULL values (e.g. empty ItemData text from the XML path) coalesce to
    a sentinel — ``F.concat`` would otherwise null the whole payload and
    every null-valued command would collapse onto one degenerate id.
    The DuckDB oracle (`oracle._cmd_select`) applies the same sentinel.

    flavor='md5' hashes one canonical string.  flavor='sha1' hashes the
    clj-uuid BYTE encoding: keywords as their ':kw' UTF-8 form, uuid
    params as 16 raw bytes (UUIDNameBytes), strings as UTF-8.  Remaining
    parity delta, by design: typed item values (integer/float/datetime)
    are hashed via their canonical *string* form, where the reference
    hands clj-uuid the typed object — see generate_commands docstring."""
    if flavor == "md5":
        parts = [F.concat(F.lit(":"), name_col)]
        for k in sorted(params):
            parts.append(F.lit(":" + k))
            parts.append(F.coalesce(params[k].cast("string"), F.lit(_NIL_SENTINEL)))
        return F.concat(*parts)
    parts = [F.concat(F.lit(":"), name_col).cast("binary")]
    for k in sorted(params):
        parts.append(F.lit(":" + k).cast("binary"))
        if k in _UUID_PARAMS:
            # the :nil sentinel applies ONLY when the source column itself
            # is NULL (reachable via the XML path when an entity OID is
            # missing) — a malformed non-hex uuid string must stay a NULL
            # payload (unhex -> NULL nulls the whole concat, surfacing as
            # a detectable NULL cmd_id) rather than silently sharing the
            # sentinel bytes with genuinely-absent params
            parts.append(
                F.when(params[k].isNull(), F.lit(_NIL_SENTINEL).cast("binary")).otherwise(
                    F.unhex(F.regexp_replace(params[k], "-", ""))
                )
            )
        else:
            parts.append(
                F.coalesce(params[k].cast("string"), F.lit(_NIL_SENTINEL)).cast("binary")
            )
    return F.concat(*parts)


def _name(entity: str, rtx: Column) -> Column:
    """The command name, its verb resolved per row from ``rtx``."""
    return F.concat(F.lit("odm-import/"), rtx, F.lit(f"-{entity}"))


def _level_payload(level: str, name: Column, flavor: str, **cols: Column) -> Column:
    """Hash payload of an interior level's command: the level's params
    (a source column, unless ``cols`` overrides it, e.g. with a literal
    OID) plus file-oid."""
    _, params, _ = _LEVELS[level]
    hp = {k: cols.get(c, F.col(c)) for k, c in params.items()}
    hp["file-oid"] = F.col("file_oid")
    return _payload(name, hp, flavor)


def _item_rule(name, rtx, flavor, item_group_id, item_oid, data_type, value, item_id):
    """The item command rule: insert/upsert hash {item-group-id,
    item-oid, data-type, value}; update targets {item-id, data-type,
    value}; remove drops the value; every verb also hashes file-oid.
    Returns the per-row payload and the item-only output columns."""
    fo = F.col("file_oid")
    ins = _payload(
        name,
        {"data-type": data_type, "item-group-id": item_group_id, "item-oid": item_oid,
         "value": value, "file-oid": fo},
        flavor,
    )
    upd = _payload(
        name, {"data-type": data_type, "file-oid": fo, "item-id": item_id, "value": value}, flavor
    )
    rem = _payload(
        name, {"file-oid": fo, "item-group-id": item_group_id, "item-oid": item_oid}, flavor
    )
    payload = F.when(rtx == "update", upd).when(rtx == "remove", rem).otherwise(ins)
    out = {
        "data_type": F.when(rtx != "remove", data_type),
        "value_canon": F.when(rtx != "remove", value),
        "item_id": F.when(rtx == "update", item_id),
    }
    return payload, out


def _cmd_id(payload: Column, ns: str | Column, flavor: str, entity: str | None = None) -> Column:
    """The command id (A18): ``payload`` hashed into the namespace
    ``ns`` with the flavor's uuid builder.

    NULL-payload guard (ADVICE r4; shared helper since r6): a malformed
    non-hex uuid param nulls the sha1 payload — without a guard the uuid
    formatter folds that into one shared degenerate id (empty string),
    silently breaking the A18 idempotency/dedupe contract.  The guard
    raises with the level (when known) and file_oid; see
    functions/keys.guard_payload for the payload-not-uuid placement
    rationale.  ``on_null="empty"`` because this contextual guard makes
    the formatter's generic one redundant for the payload; a literal
    namespace is checked when the builder is called, a Column one by
    :func:`_namespace`."""
    guarded = guard_payload(
        payload, _null_cmd_id_msg(entity), cast_type="binary" if flavor == "sha1" else "string"
    )
    return keyfn(flavor)(ns, [guarded], on_null="empty")


@cache
def _null_cmd_id_msg(entity: str | None) -> Column:
    """:func:`_cmd_id`'s guard message, built once per process: it is a
    constant expression, and each ``F`` call is three Py4J round trips
    at plan build (see ``functions/keys``)."""
    at = f" at {entity} level" if entity else ""
    return F.concat(
        F.lit(f"generate_commands: NULL cmd-id payload{at} (malformed uuid param?) file_oid="),
        F.coalesce(F.col("file_oid"), F.lit("<NULL>")),
    )


def _level_commands(
    df: DataFrame, level: str, ns: str | Column, sub: Column, flavor: str
) -> DataFrame:
    """ONE projection per hierarchy level: the verb is resolved per-row
    (CASE on rtx) instead of fanning out per-verb branches — a single
    scan of the level instead of three, which is what survives a 100x
    scale-up."""
    entity, params, parent = _LEVELS[level]
    rtx = F.col("rtx")
    name = _name(entity, rtx)
    out = {c: F.col(c) for c in _PATH[level]}
    out["parent_id"] = F.col(parent)
    if params is None:
        payload, item_out = _item_rule(
            name, rtx, flavor, F.col("item_group_id"), F.col("item_oid"),
            F.col("data_type"), F.col("value_canon"), F.col("item_id"),
        )
        out.update(item_out)
    else:
        df = df.where(rtx != "update")  # interior update: cascade only
        payload = _level_payload(level, name, flavor)
    cols = [_cmd_id(payload, ns, flavor, entity).alias("cmd_id"), name.alias("name"), sub.alias("sub")]
    cols += [out[c].alias(c) if c in out else _null(c) for c in COMMAND_COLUMNS[3:]]
    return df.select(*cols)


def resolve_and_identify(odm: OdmTables, flavor: str = "md5") -> OdmTables:
    """tx resolution + entity ids in one top-down pass (A10, A14, A17).

    Each level joins its parent on the OID path: ``rtx =
    coalesce(tx_type, parent rtx)`` (subjects default to insert), and
    the children of a removed node are pruned by the inner join against
    the parent's non-remove rows (remove does not cascade).  The join
    carries the PARENT's id down, so a level computes only its own hash
    (items: 1 chain hash instead of 6 — the id chain is evaluated once
    per ancestor row, not once per descendant row)."""
    key = keyfn(flavor)
    subjects = (
        odm.subjects.withColumn("rtx", F.coalesce(F.col("tx_type"), F.lit("insert")))
        .withColumn("study_id", key(NIL_UUID, [F.col("study_oid")]))
        .withColumn("subject_id", key(F.col("study_id"), [F.col("subject_key")]))
    )

    def child(child_df, parent, keys, parent_id, own_id, own_part):
        p = parent.where(F.col("rtx") != "remove").select(
            *keys, F.col("rtx").alias("parent_rtx"), F.col(parent_id)
        )
        return (
            child_df.join(p, keys, "inner")
            .withColumn("rtx", F.coalesce(F.col("tx_type"), F.col("parent_rtx")))
            .drop("parent_rtx")
            .withColumn(own_id, key(F.col(parent_id), [F.col(own_part)]))
        )

    se = child(odm.study_events, subjects, _PATH["subjects"], "subject_id", "study_event_id", "study_event_oid")
    form = child(odm.forms, se, _PATH["study_events"], "study_event_id", "form_id", "form_oid")
    ig = child(odm.item_groups, form, _PATH["forms"], "form_id", "item_group_id", "item_group_oid")
    item = child(odm.items, ig, _PATH["item_groups"], "item_group_id", "item_id", "item_oid")
    return OdmTables(odm.files, subjects, se, form, ig, item)


def generate_commands(
    odm: OdmTables,
    batch_cmd_id: str | Column,
    sub: str | Column,
    persist: bool = True,
    flavor: str = "md5",
) -> DataFrame:
    """The full per-level command set of NORMALIZED levels as one flat
    DataFrame (:func:`resolve_and_identify`, then one projection per
    level).

    ``batch_cmd_id`` is the id-namespace: a scalar uuid string (single
    batch command), the :data:`PER_FILE` sentinel (multi-file batch —
    each row's namespace derives from its ``file_oid``, same flavor as
    the command hashing), or an explicit Column expression (e.g.
    :func:`batch_cmd_id_map` for externally-assigned per-file ids).
    A scalar string that is not uuid text raises ``ValueError`` here.
    A Column namespace that is NULL on a row (for sha1, also one that
    does not unhex) fails the job, naming the row's ``file_oid``; any
    other malformed Column value is the caller's to avoid (md5 hashes
    its text as it is).
    ``sub`` likewise accepts a Column for per-file submitters.

    ``persist`` caches each resolved level before fan-out — the level
    frontier feeds both its own command projection and the child
    level's resolve join.  Measured cold-session at sf0.1: 12.7s with
    persist vs 18.9s without (warm-session A/Bs invert this — beware
    run-order bias when re-measuring).  ``flavor='sha1'`` switches
    every id to true RFC-4122 UUIDv5 with the reference's clj-uuid name
    encoding: entity-id chains are byte-exact (golden-pinned,
    tests/test_keys.py), and cmd-id payloads encode uuid params as 16
    raw bytes per UUIDNameBytes (reference util.clj:32-43).  One
    documented delta remains: typed item VALUES are hashed via their
    canonical string form, where the reference hands clj-uuid the typed
    Long/Double/DateTime object — so real-world cmd ids for
    integer/float/datetime item values may differ.  Not DuckDB-checkable
    (this DuckDB lacks sha1); pinned in tests instead."""
    r = resolve_and_identify(odm, flavor)
    if persist:
        for df in (r.subjects, r.study_events, r.forms, r.item_groups):
            df.persist()
    ns, sub = _namespace(batch_cmd_id, flavor), _col_or_lit(sub)
    out = [_level_commands(getattr(r, level), level, ns, sub, flavor) for level in _LEVELS]
    return reduce(lambda a, b: a.unionByName(b), out)


def generate_commands_single_pass(
    subjects: DataFrame,
    study_events: DataFrame,
    denorm: DataFrame,
    batch_cmd_id: str | Column,
    sub: str | Column,
    item_attrs: list[tuple[str, str]],
    flavor: str = "md5",
) -> DataFrame:
    """:func:`generate_commands` for a DENORMALIZED form-grain source,
    with the forms / item-groups / items arms fused into ONE pass (r15 —
    guide §2.4/§5): each form-grain row emits its form, item-group and
    item command structs in a single projection (array → filter(keep)
    → inline), so the window+join frontier is computed exactly once
    with no cache materialization and no multi-job union fan.  The
    subject and study-event arms are the generic per-level projections.
    Row- and schema-identical to ``generate_commands`` over the
    normalized tree (``odm.derive_odm_from_tpch``) — pinned by
    tests/test_odm_commands.py::test_fused_equals_generic.

    ``subjects`` / ``study_events`` carry ``rtx`` and their entity ids;
    ``denorm`` columns: the five path cols, ``form_rtx`` (resolved),
    ``study_event_id``/``form_id``, and one ``val_<OID>`` canonical-value
    column per ``(OID, data_type)`` in ``item_attrs``.  The derivation
    contract baked in: one item group :data:`odm.IG_OID` per form and
    neither item groups nor items carry their own tx (both inherit
    ``form_rtx``).

    Hash volume is unchanged vs the generic path: one cmd-id hash per
    SURVIVING command row (hashed after the keep-filter), the
    item-group id once per form-grain row, and item ids lazily inside
    the update branches only.  The shared ``item_group_id`` hash lives
    in its own projection (CollapseProject keeps a non-cheap alias
    referenced 12x) so the CASE branches reference a column, not a
    re-evaluated md5 (the r8 ivf_knn CSE lesson)."""
    ns, sub = _namespace(batch_cmd_id, flavor), _col_or_lit(sub)
    key = keyfn(flavor)

    subj_arm = _level_commands(subjects, "subjects", ns, sub, flavor)
    se_arm = _level_commands(study_events, "study_events", ns, sub, flavor)

    rtx = F.col("form_rtx")
    path = {c: F.col(c) for c in _PATH["forms"]}
    nulls = {c: _null(c) for c in COMMAND_COLUMNS[3:]}

    def cmd_struct(keep: Column, name: Column, payload: Column, **out: Column) -> Column:
        fields = [keep.alias("keep"), name.alias("name"), payload.alias("payload")]
        for c in COMMAND_COLUMNS[3:]:
            fields.append((out.get(c) if c in out else nulls[c]).alias(c))
        return F.struct(*fields)

    form_name = _name("form", rtx)
    form_struct = cmd_struct(
        rtx != "update",
        form_name,
        _level_payload("forms", form_name, flavor),
        **path,
        parent_id=F.col("study_event_id"),
    )

    ig_name = _name("item-group", rtx)
    ig_struct = cmd_struct(
        (rtx != "remove") & (rtx != "update"),
        ig_name,
        _level_payload("item_groups", ig_name, flavor, item_group_oid=F.lit(IG_OID)),
        **path,
        item_group_oid=F.lit(IG_OID),
        parent_id=F.col("form_id"),
    )

    item_name = _name("item", rtx)
    item_structs = []
    for oid, dtype in item_attrs:
        payload, item_out = _item_rule(
            item_name, rtx, flavor, F.col("item_group_id"), F.lit(oid), F.lit(dtype),
            F.col(f"val_{oid}"), key(F.col("item_group_id"), [F.lit(oid)]),
        )
        item_structs.append(
            cmd_struct(
                rtx != "remove",
                item_name,
                payload,
                **path,
                item_group_oid=F.lit(IG_OID),
                item_oid=F.lit(oid),
                parent_id=F.col("item_group_id"),
                **item_out,
            )
        )

    exploded = (
        denorm.withColumn("item_group_id", key(F.col("form_id"), [F.lit(IG_OID)]))
        .select(
            F.inline(
                F.filter(
                    F.array(form_struct, ig_struct, *item_structs),
                    lambda s: s["keep"],
                )
            )
        )
    )
    denorm_arm = exploded.select(
        _cmd_id(F.col("payload"), ns, flavor).alias("cmd_id"),
        F.col("name"),
        sub.alias("sub"),
        *[F.col(c) for c in COMMAND_COLUMNS[3:]],
    )
    return subj_arm.unionByName(se_arm).unionByName(denorm_arm)


def dispatch_commands(
    cmds: DataFrame,
    handlers: dict,
    persist: bool = True,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """The reference's OPEN ``handle-command`` multimethod
    (``broker.clj:55`` — dispatch on ``:name``, unhandled names error →
    reject) restated set-at-a-time: each registered name's rows flow
    through that handler's DataFrame transform, and rows whose name has
    NO handler come back as the reject side (route them to a
    dead-letter/requeue sink; silently dropping them would hide exactly
    the bug the multimethod's no-default error surfaces).

    ``handlers``: ``{command_name: fn(DataFrame) -> DataFrame}`` —
    the extension point (SURVEY B10): downstream systems register new
    verbs without touching this engine, the same openness the
    multimethod gives Clojure consumers.

    ``persist`` localCheckpoints the source once — each consumer's lazy
    result re-executes the upstream plan otherwise, and the consumer
    count is ``len(handlers) + 1``: the unhandled reject frame always
    reads the source too, so even a single-handler dispatch re-derives
    twice without it (r8 review).  Callers embedding this in a larger
    cached pipeline can pass False.

    Returns ``(handled, unhandled)`` with ``handled[name]`` the
    handler's output for that verb's rows.
    """
    if persist and handlers:
        cmds = local_ckpt(cmds, eager=False)
    handled = {
        name: fn(cmds.where(F.col("name") == name)) for name, fn in handlers.items()
    }
    unhandled = cmds.where(~F.col("name").isin(*handlers) | F.col("name").isNull())
    return handled, unhandled
