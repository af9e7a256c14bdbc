"""Deterministic surrogate-key generation (reference: A17/A18).

The reference derives every entity/command id as a *path-dependent
UUIDv5* so that re-imports are idempotent and ids are computable without
lookups (reference ``src/lens/util.clj:32-43`` for the name-byte
encoding, ``src/lens/import_clinical_data.clj:288-289`` for command-id
hashing; derivation table in SURVEY.md §1.1).

Two flavors, both pure Catalyst column expressions (JVM-side,
whole-stage-codegen friendly — NO Python UDF in the hot path):

- :func:`uuid5_col` — RFC-4122 UUIDv5 (SHA-1 over ``ns_bytes ||
  name_bytes``).  Byte-exact with the reference's clj-uuid output: our
  pytest golden pin reproduces the reference's pinned value
  ``75e752d9-c2bf-53dc-82dd-97f4c05363ec``
  (``test/lens/import_clinical_data_test.clj:261-267``), including the
  quirk that the reference's namespace literal has a 13-hex-digit final
  group which Java's lenient ``UUID.fromString`` folds into the low 64
  bits.
- :func:`uuid3_str_col` — an md5 flavor over a canonical *string*
  payload (``hex(ns) || name-string``), used by every oracle-checked
  query because the DuckDB in this environment (v1.0.0) has ``md5`` but
  no ``sha1`` and its ``md5`` only accepts VARCHAR.  Same layout
  (version nibble ``3``, RFC variant), same determinism contract.  The
  DuckDB oracle computes the *identical* string with
  ``oracle.duck_uuid3`` / ``oracle.duck_fmt``.

:func:`keyfn` maps a flavor name to its column builder.  Command ids
(A18) are these same builders applied to a hash payload built by
``plans/commands._payload``.

Name-byte encoding (mirrors clj-uuid + the reference's extension):
keywords encode as their ``str`` form *including the leading colon*;
sequences concatenate element encodings; strings are UTF-8 bytes.
"""

from __future__ import annotations

import hashlib
import uuid
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

NIL_UUID = "00000000-0000-0000-0000-000000000000"

# hex-digit -> (digit & 0x3) | 0x8, i.e. the RFC-4122 variant nibble
_HEX = "0123456789abcdef"
_VARIANT_MAP = "89ab89ab89ab89ab"


# ---------------------------------------------------------------------------
# Python-side (drivers for tests / fixture generation / golden pins)
# ---------------------------------------------------------------------------

def java_uuid_from_string(s: str) -> str:
    """Parse a UUID string the way ``java.util.UUID.fromString`` does.

    Java parses each dash-group as a long, so over-long groups (like the
    reference test's 13-digit ``db7831d81e69d``) still parse, folding
    into the 64-bit halves.  Needed to reproduce the reference's golden
    namespace ``2a302e1b-3cb4-425e-bca9-db7831d81e69d`` ->
    ``...-bcad-b7831d81e69d``.
    """
    p = s.split("-")
    if len(p) != 5:
        raise ValueError(f"not a uuid: {s!r}")
    msb = (int(p[0], 16) << 32) | ((int(p[1], 16) & 0xFFFF) << 16) | (int(p[2], 16) & 0xFFFF)
    lsb = ((int(p[3], 16) & 0xFFFF) << 48) | int(p[4], 16)
    msb &= (1 << 64) - 1
    lsb &= (1 << 64) - 1
    return str(uuid.UUID(int=(msb << 64) | lsb))


def _encode_part_py(part) -> bytes:
    if isinstance(part, Kw):
        return (":" + part.name).encode("utf-8")
    if isinstance(part, UuidBytes):
        return uuid.UUID(part.value).bytes
    if isinstance(part, bytes):
        return part
    return str(part).encode("utf-8")


def uuid5_py(ns: str, parts: Iterable) -> str:
    """RFC-4122 UUIDv5 over the clj-uuid-style encoded ``parts`` seq."""
    payload = uuid.UUID(ns).bytes + b"".join(_encode_part_py(p) for p in parts)
    h = bytearray(hashlib.sha1(payload).digest()[:16])
    h[6] = (h[6] & 0x0F) | 0x50
    h[8] = (h[8] & 0x3F) | 0x80
    return str(uuid.UUID(bytes=bytes(h)))


def uuid3_str_py(ns: str, parts: Iterable[str]) -> str:
    """md5 string-payload flavor — must match :func:`uuid3_str_col` and
    the oracle's ``duck_uuid3`` exactly."""
    payload = uuid.UUID(ns).hex + "".join(str(p) for p in parts)
    h = hashlib.md5(payload.encode("utf-8")).hexdigest()
    variant = _VARIANT_MAP[int(h[16], 16)]
    return f"{h[0:8]}-{h[8:12]}-3{h[13:16]}-{variant}{h[17:20]}-{h[20:32]}"


class Kw:
    """A Clojure-keyword-encoded name part (leading colon)."""

    def __init__(self, name: str):
        self.name = name


class UuidBytes:
    """A name part that is a UUID encoded as its 16 raw bytes
    (clj-uuid encodes UUID params this way, not as strings)."""

    def __init__(self, value: str):
        self.value = value


# ---------------------------------------------------------------------------
# Column expressions (the engine hot path)
# ---------------------------------------------------------------------------

def _fmt_uuid_sql(h: str, version: str) -> str:
    """32-hex-char digest (as a Spark-SQL fragment) -> RFC-4122
    formatted uuid string with the given version nibble and a forced
    RFC variant nibble.

    NULLABILITY CONTRACT (measured, r5): the output is NON-nullable —
    ``concat_ws`` SKIPS null args, so a NULL digest (NULL payload)
    formats as the EMPTY STRING, not NULL.  That is deliberate: every
    null-PROPAGATING variant tried poisons downstream plans —
    a ``when(h.isNotNull(), ...)`` wrapper defeats codegen
    subexpression elimination of ``h`` (md5 re-evaluated per fragment,
    flagship 6.9s → 16s at sf0.1), and any nullable formatting
    (``concat`` + dash literals, or a zero-width null carrier) makes
    every JOIN on a uuid column push an ``isnotnull(<whole uuid
    expr>)`` filter below the projection, re-evaluating the md5 per
    row with no CSE across the Filter/Project boundary (correlate
    4.7s → 6.9s).  Callers that must DETECT a null-payload state guard
    the PAYLOAD, not the formatted uuid — since r7 the public
    formatters do this BY DEFAULT (``on_null="error"`` →
    :func:`guard_payload`); ``on_null="empty"`` restores the raw
    empty-string collapse for callers that pre-guard contextually.

    BUILD-TIME form (r6): the formatters now assemble ONE Spark-SQL
    string and parse it with a single ``F.expr`` call instead of
    composing ~20 ``Column`` operations — measured 50 builder calls:
    1.50s composed vs 0.03s parsed (each ``F.xxx`` is a Py4J round
    trip; the flagship build makes hundreds of them).  The resulting
    expression TREE is identical, so runtime plans, CSE behavior, and
    the golden uuid bytes are unchanged (pinned by tests/test_keys.py).
    """
    return (
        f"concat_ws('-', substring({h},1,8), substring({h},9,4), "
        f"concat('{version}', substring({h},14,3)), "
        f"concat(translate(substring({h},17,1), '{_HEX}', '{_VARIANT_MAP}'), "
        f"substring({h},18,3)), substring({h},21,12))"
    )


def guard_payload(payload: Column, msg: Column, cast_type: str = "string") -> Column:
    """Loud-failure wrapper for a uuid-formatter payload (shared helper,
    ADVICE r5): the formatters are NON-nullable by contract (see
    ``_fmt_uuid``) — a NULL payload silently formats as the empty
    string, collapsing distinct ids to one degenerate value.  Callers
    that can receive a NULL payload (malformed uuid param, missing
    source field) wrap it here so generation FAILS at execution instead:
    ``coalesce`` short-circuits, so well-formed rows pay one null check,
    and the guard sits on the PAYLOAD, not the formatted uuid, keeping
    the id column non-nullable for join/group pushdown (a nullable uuid
    key re-evaluates the hash inside a pushed isnotnull Filter).

    ``msg`` is the error column (include the offending row's context);
    ``cast_type`` must match the payload type ("binary" for the sha1
    flavor, "string" for md5) so both coalesce branches agree."""
    return F.coalesce(payload, F.raise_error(msg).cast(cast_type))


import re as _re

_BARE_COL_RE = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _esc(s: str) -> str:
    """Escape a Python string into a Spark-SQL single-quoted literal
    body (Spark's parser treats backslash as an escape by default)."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _bare_col_sql(c: Column) -> str | None:
    """SQL text of a Column IF it is a bare attribute reference, else
    None.  ``Column.toString`` is only trusted for this one shape: for
    operator nodes it emits function-call forms (``%(a, 3)``,
    ``=(rtx, 'u')``) whose parse/resolution is not guaranteed, and a
    binary literal stringifies as the Java array reference.  Anything
    non-bare routes to the composed-Column slow path.

    The accepted name is BACKTICK-QUOTED into the fragment: unquoted, a
    column literally named ``current_date`` would parse as the zero-arg
    function (stable-looking but wrong ids that change daily) and a
    reserved word like ``order`` would be a ParseException the
    composed path never had.

    The node-class gate (r6 review) rejects everything that merely
    STRINGIFIES like an identifier: ``F.lit(True)`` prints ``true``,
    ``F.lit(None)`` prints ``NULL``, ``F.lit(inf)`` prints
    ``Infinity`` — re-parsing those as column refs would resolve a
    phantom column or crash; and a DATAFRAME-BOUND column (``df['v']``,
    an ExpressionColumnNode) must not degrade to name resolution,
    which is ambiguous after a join where the free-name form would
    silently pick a side.  Only a genuinely unresolved attribute is
    safe to re-emit by name."""
    try:
        node_cls = c._jc.node().getClass().getName()
    except Exception:
        return None
    if node_cls != "org.apache.spark.sql.internal.UnresolvedAttribute":
        return None
    s = c._jc.toString()
    return f"`{s}`" if _BARE_COL_RE.match(s) else None


def _fmt_uuid(h: Column, version: str) -> Column:
    """Composed-Column twin of :func:`_fmt_uuid_sql` (the fallback path
    for complex payload trees); same expression shape, same
    nullability contract."""
    variant = F.translate(F.substring(h, 17, 1), _HEX, _VARIANT_MAP)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit(version), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def _to_bytes(part) -> Column:
    """Encode one name part to a binary Column (clj-uuid semantics)."""
    if isinstance(part, Kw):
        return F.lit((":" + part.name).encode("utf-8"))
    if isinstance(part, UuidBytes):
        return F.unhex(F.regexp_replace(F.lit(part.value), "-", ""))
    if isinstance(part, Column):
        return part.cast("binary")
    if isinstance(part, bytes):
        return F.lit(part)
    return F.lit(str(part).encode("utf-8"))


def _to_str(part) -> Column:
    if isinstance(part, Column):
        return part.cast("string")
    return F.lit(str(part))


def _to_bytes_sql(part) -> str | None:
    """Binary Spark-SQL fragment for one name part, or None when the
    part needs the composed-Column path (non-bare Column)."""
    if isinstance(part, Kw):
        return "X'" + (":" + part.name).encode("utf-8").hex() + "'"
    if isinstance(part, UuidBytes):
        # _esc'd like every string literal: an unescaped quote-bearing
        # value would parse as SQL concat (different payload than the
        # composed fallback, which unhex-NULLs the non-hex string)
        return f"unhex('{_esc(part.value.replace('-', ''))}')"
    if isinstance(part, Column):
        bare = _bare_col_sql(part)
        return None if bare is None else f"CAST({bare} AS BINARY)"
    if isinstance(part, bytes):
        return "X'" + part.hex() + "'"
    return f"CAST('{_esc(str(part))}' AS BINARY)"


def _to_str_sql(part) -> str | None:
    if isinstance(part, Column):
        bare = _bare_col_sql(part)
        return None if bare is None else f"CAST({bare} AS STRING)"
    return f"'{_esc(str(part))}'"


def _guard_msg(fn: str) -> str:
    # The fast path splices this into a single-quoted SQL literal via
    # _esc(), so apostrophes are safe — but keep the text quote-free
    # anyway for readability of the generated SQL.
    return (
        f"{fn}: NULL id payload (NULL part or namespace) would collapse "
        "distinct ids to one degenerate value; fix the source or waive "
        "with on_null=empty"
    )


def _check_on_null(fn: str, on_null: str) -> None:
    if on_null not in ("error", "empty"):
        raise ValueError(f"{fn}: on_null must be 'error' or 'empty', got {on_null!r}")


def uuid5_col(ns: Column | str, parts: list, on_null: str = "error") -> Column:
    """UUIDv5 (sha1, byte-exact with the reference) as a column expr.

    ``ns`` is a uuid-string column/literal; ``parts`` a list of Columns /
    strings / Kw / UuidBytes, concatenated clj-uuid-style.  Fast path
    (bare-column/literal parts — the common engine shape) assembles ONE
    parsed SQL string; complex Column parts fall back to composed
    Columns.  See ``_fmt_uuid_sql`` for why and the measurements.

    ``on_null`` (r7, VERDICT r6 #5 — guard_payload is now the DEFAULT
    path): ``"error"`` wraps the payload in :func:`guard_payload`, so a
    NULL part/namespace RAISES at execution instead of silently
    formatting the empty-string degenerate id; well-formed rows pay one
    short-circuited null check.  The guard sits INSIDE the hash
    argument, so the formatted uuid stays non-nullable (concat_ws) and
    hash CSE is unchanged — the plan-poisoning modes measured in
    ``_fmt_uuid_sql``'s docstring do not apply.  Pass ``"empty"`` to
    waive (callers that pre-guard with a contextual message, or whose
    NULL-collapse is deliberate).
    """
    _check_on_null("uuid5_col", on_null)
    if isinstance(ns, str):
        ns_sql = f"unhex('{_esc(ns.replace('-', ''))}')"
    else:
        bare = _bare_col_sql(ns)
        ns_sql = None if bare is None else f"unhex(regexp_replace({bare}, '-', ''))"
    part_sqls = [_to_bytes_sql(p) for p in parts]
    if ns_sql is not None and all(p is not None for p in part_sqls):
        payload = "concat(" + ", ".join([ns_sql] + part_sqls) + ")"
        if on_null == "error":
            payload = (
                f"coalesce({payload}, "
                f"CAST(raise_error('{_esc(_guard_msg('uuid5_col'))}') AS BINARY))"
            )
        return F.expr(_fmt_uuid_sql(f"sha1({payload})", "5"))
    # string namespaces are canonicalized in PYTHON (r15): emitting
    # unhex(regexp_replace('<literal>')) makes ConstantFolding evaluate
    # it at planning — harmless per se, but the sibling md5 flavor's
    # literal lower() was measured triggering the one-time ICU collation
    # class-init (~1.5 s in CollationAwareUTF8String.<clinit>) inside
    # the optimizer; pre-encoding keeps literal namespaces out of the
    # expression tree entirely.  Byte-identical: same hex decode.
    if isinstance(ns, str):
        try:
            ns_bytes = F.lit(bytes.fromhex(ns.replace("-", "")))
        except ValueError as e:
            # the fast path unhexes the same text to a NULL namespace,
            # which its guard refuses at execution; say so at the call
            # site instead of surfacing a bare fromhex error
            raise ValueError(
                f"uuid5_col: literal namespace {ns!r} is not uuid hex text "
                f"({e}); it would hash as a NULL namespace and collapse "
                "distinct ids to one degenerate value — pass the "
                "namespace uuid, e.g. 6ba7b810-9dad-11d1-80b4-00c04fd430c8"
            ) from e
    else:
        ns_bytes = F.unhex(F.regexp_replace(ns, "-", ""))
    payload = F.concat(ns_bytes, *[_to_bytes(p) for p in parts])
    if on_null == "error":
        payload = guard_payload(payload, F.lit(_guard_msg("uuid5_col")), cast_type="binary")
    return _fmt_uuid(F.sha1(payload), "5")


def uuid3_str_col(ns: Column | str, parts: list, on_null: str = "error") -> Column:
    """md5 string-payload deterministic uuid (oracle-checkable flavor).
    Same fast-path/fallback split — and the same default NULL-payload
    guard (``on_null``) — as :func:`uuid5_col`."""
    _check_on_null("uuid3_str_col", on_null)
    if isinstance(ns, str):
        ns_sql = f"'{_esc(ns.replace('-', '').lower())}'"
    else:
        bare = _bare_col_sql(ns)
        ns_sql = None if bare is None else f"lower(regexp_replace({bare}, '-', ''))"
    part_sqls = [_to_str_sql(p) for p in parts]
    if ns_sql is not None and all(p is not None for p in part_sqls):
        payload = "concat(" + ", ".join([ns_sql] + part_sqls) + ")"
        if on_null == "error":
            payload = (
                f"coalesce({payload}, "
                f"CAST(raise_error('{_esc(_guard_msg('uuid3_str_col'))}') AS STRING))"
            )
        return F.expr(_fmt_uuid_sql(f"md5(CAST({payload} AS BINARY))", "3"))
    # literal namespaces lower()ed in Python, not in the plan (r15):
    # the folded lower('<literal>') was the first collation-aware
    # expression the optimizer evaluated in a bench run, paying the
    # one-time ICU CollationAwareUTF8String.<clinit> (~1.5 s) inside
    # ConstantFolding on the flagship's critical path.  Python str.lower
    # equals SQL lower on hex/dash uuid text — byte-identical payload.
    if isinstance(ns, str):
        ns_hex = F.lit(ns.replace("-", "").lower())
    else:
        ns_hex = F.lower(F.regexp_replace(ns, "-", ""))
    payload = F.concat(ns_hex, *[_to_str(p) for p in parts])
    if on_null == "error":
        payload = guard_payload(payload, F.lit(_guard_msg("uuid3_str_col")), cast_type="string")
    return _fmt_uuid(F.md5(payload.cast("binary")), "3")


def keyfn(flavor: str):
    """The uuid column builder of an id flavor — the one flavor map the
    command generators and the fused derivation share: ``'md5'`` =
    oracle-checkable :func:`uuid3_str_col`, ``'sha1'`` = RFC-4122
    UUIDv5 :func:`uuid5_col` with reference byte-parity."""
    return {"md5": uuid3_str_col, "sha1": uuid5_col}[flavor]
