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

Both flavors build ONE composed-Column tree in ``_uuid_col``
(namespace → payload → guard → hash → format); a flavor supplies only
its encoders, hash, guard cast and version nibble.

Name-byte encoding (mirrors clj-uuid + the reference's extension):
keywords encode as their ``str`` form *including the leading colon*;
sequences concatenate element encodings; strings are UTF-8 bytes.
"""

from __future__ import annotations

import functools
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
    payload = uuid.UUID(ns).hex + "".join(_str_part("uuid3_str_py", p) for p in parts)
    h = hashlib.md5(payload.encode("utf-8")).hexdigest()
    variant = _VARIANT_MAP[int(h[16], 16)]
    return f"{h[0:8]}-{h[8:12]}-3{h[13:16]}-{variant}{h[17:20]}-{h[20:32]}"


def _str_part(fn: str, part) -> str:
    """An md5-flavor name part as the text it hashes.  A :class:`Kw` or
    :class:`UuidBytes` part is refused: md5 hashes text, and their
    ``str`` is the object repr, which names a memory address — an id
    that would change from process to process."""
    if isinstance(part, (Kw, UuidBytes)):
        raise ValueError(
            f"{fn}: a {type(part).__name__} part has no md5 text form (it "
            "would hash its object repr); pass the text to hash, or use "
            "the sha1 flavor, which encodes it clj-uuid-style"
        )
    return str(part)


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

# Constant operands every builder call repeats, built once per process
# (see ``_fmt_uuid`` on build cost): a Column is an immutable tree any
# number of plans can share, PySpark keeps one JVM gateway per process,
# and both caches are keyed by module constants only.

@functools.cache
def _lit(value: str) -> Column:
    return F.lit(value)


@functools.cache
def _null_payload_error(fn: str, cast_type: str) -> Column:
    """A builder's own :func:`guard_payload` error branch."""
    msg = (
        f"{fn}: NULL id payload (NULL part or namespace) would collapse "
        "distinct ids to one degenerate value; fix the source or waive "
        "with on_null=empty"
    )
    return F.raise_error(F.lit(msg)).cast(cast_type)


def _fmt_uuid(h: Column, version: str) -> Column:
    """32-hex-char digest -> RFC-4122 formatted uuid string with the
    given version nibble and a forced RFC variant nibble.

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
    the PAYLOAD, not the formatted uuid — the public builders do this
    BY DEFAULT (``on_null="error"`` → :func:`guard_payload`);
    ``on_null="empty"`` restores the raw empty-string collapse for
    callers that pre-guard contextually.

    BUILD TIME is Py4J round trips: one per Column method, three per
    ``F`` call (varargs: four more, plus one per argument), so the
    slices use ``Column.substr`` (``F.substring`` adds two ``lit``
    calls for its int arguments) — the same ``Substring`` expression,
    printed ``substr`` in plans.  A format is 39 round trips (90 with
    ``F.substring``); a builder call is 55-68, where the deleted
    SQL-string path took 7-11 and its composed twin 122-132.  Measured
    per build on a 4-vCPU host (median of 7 warm builds, median of 5
    alternating process pairs): ``generate_commands(PER_FILE)`` md5
    2,437 → 2,265 round trips, 602 → 578 ms; ``fused_commands`` sha1
    4,948 → 4,575, 734 → 682 ms."""
    variant = F.translate(h.substr(17, 1), _HEX, _VARIANT_MAP)
    return F.concat_ws(
        "-",
        h.substr(1, 8),
        h.substr(9, 4),
        F.concat(_lit(version), h.substr(14, 3)),
        F.concat(variant, h.substr(18, 3)),
        h.substr(21, 12),
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


def literal_ns_hex(fn: str, ns: str) -> str:
    """The 32 lower-case hex digits of a literal namespace uuid string,
    refused at the call site of ``fn`` otherwise: sha1 would unhex any
    other text to a NULL namespace (one degenerate id for the whole
    batch), and md5 would hash text that :func:`uuid3_str_py` refuses."""
    h = ns.replace("-", "").lower()
    if len(h) != 32 or not set(h) <= set(_HEX):
        raise ValueError(
            f"{fn}: literal namespace {ns!r} is not uuid hex text (32 hex "
            "digits once dashes are removed), e.g. 6ba7b810-9dad-11d1-80b4-00c04fd430c8"
        )
    return h


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
    return F.lit(_str_part("uuid3_str_col", part))


def _uuid_col(
    fn: str, ns: Column | str, parts: list, on_null: str, *,
    encode, ns_lit, ns_col, digest, cast_type: str, version: str,
) -> Column:
    """The one body of both builders: namespace → payload → guard →
    hash → format.  A flavor supplies its part ``encode``r, namespace
    encoders (``ns_lit`` of the checked hex digits, ``ns_col`` of a
    dash-stripped Column), ``digest``, guard ``cast_type`` and version.

    A literal namespace is checked and encoded in Python (r15): a folded
    ``lower('<literal>')`` paid the one-time ICU collation class-init
    (~1.5 s) inside the optimizer."""
    if on_null not in ("error", "empty"):
        raise ValueError(f"{fn}: on_null must be 'error' or 'empty', got {on_null!r}")
    if isinstance(ns, str):
        ns_part = ns_lit(literal_ns_hex(fn, ns))
    else:
        ns_part = ns_col(F.regexp_replace(ns, _lit("-"), _lit("")))
    payload = F.concat(ns_part, *[encode(p) for p in parts])
    if on_null == "error":
        payload = F.coalesce(payload, _null_payload_error(fn, cast_type))
    return _fmt_uuid(digest(payload), version)


def uuid5_col(ns: Column | str, parts: list, on_null: str = "error") -> Column:
    """UUIDv5 (sha1, byte-exact with the reference) as a column expr.

    ``ns`` is a uuid-string column/literal; ``parts`` a list of Columns /
    strings / Kw / UuidBytes, concatenated clj-uuid-style.  A literal
    ``ns`` must be uuid hex text (:func:`literal_ns_hex` raises
    ``ValueError`` here otherwise); a Column ``ns`` is the caller's to
    keep well-formed — a malformed value unhexes to a NULL payload.

    ``on_null`` (r7): ``"error"`` (default) wraps the payload in the
    :func:`guard_payload` coalesce, so a NULL part/namespace RAISES at
    execution instead of formatting the empty-string degenerate id; the
    guard sits inside the hash argument, so the uuid stays non-nullable
    (see ``_fmt_uuid``).  ``"empty"`` waives it, for callers that
    pre-guard with a contextual message.
    """
    return _uuid_col(
        "uuid5_col", ns, parts, on_null,
        encode=_to_bytes,
        ns_lit=lambda h: F.lit(bytes.fromhex(h)),
        ns_col=F.unhex,
        digest=F.sha1, cast_type="binary", version="5",
    )


def uuid3_str_col(ns: Column | str, parts: list, on_null: str = "error") -> Column:
    """md5 string-payload deterministic uuid (oracle-checkable flavor).
    Same namespace rules and the same default NULL-payload guard
    (``on_null``) as :func:`uuid5_col`."""
    return _uuid_col(
        "uuid3_str_col", ns, parts, on_null,
        encode=_to_str,
        ns_lit=F.lit,
        ns_col=F.lower,
        digest=lambda p: F.md5(p.cast("binary")), cast_type="string", version="3",
    )


def keyfn(flavor: str):
    """The uuid column builder of an id flavor — the one flavor map the
    command generators and the fused derivation share: ``'md5'`` =
    oracle-checkable :func:`uuid3_str_col`, ``'sha1'`` = RFC-4122
    UUIDv5 :func:`uuid5_col` with reference byte-parity."""
    return {"md5": uuid3_str_col, "sha1": uuid5_col}[flavor]
