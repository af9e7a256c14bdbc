"""ODM XML ingestion (reference A2/A3).

The reference pulls one ODM XML blob from Redis and lazily parses it
(``file_storage.clj:12-17``, ``import_clinical_data.clj:303-310`` via
the external lens-odm-parser).  Our engine reads *many* ODM files as a
distributed binaryFile scan and parses each executor-side with stdlib
``xml.etree`` inside ``mapInPandas``.  Spark's built-in ``from_xml``
could parse in the JVM instead; this Python kernel stays until a
differential test shows that parse equal to it, rows and dead-letter
class (ROADMAP direction 2).

Output is the normalized long `items`-level table (one row per
ItemData with the full OID path + per-level tx_types), from which
``plans.odm.OdmTables`` levels are cheap distinct projections.

Parse/validation errors don't fail the job: they surface as rows in an
error side-output (reference A22/A23 dead-letter semantics) — split on
the ``error`` column.

CDISC ODM element nesting (public spec):
ClinicalData / SubjectData / StudyEventData / FormData / ItemGroupData
/ ItemData, with OID attributes and a TransactionType attribute per
level.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PARSED_SCHEMA = (
    "file_path string, file_oid string, study_oid string, subject_key string, "
    "study_event_oid string, form_oid string, item_group_oid string, item_oid string, "
    "subject_tx string, study_event_tx string, form_tx string, item_group_tx string, "
    "item_tx string, data_type string, value_canon string, error string, retryable boolean"
)

_TX = "TransactionType"
_VALID_TX = {"Insert", "Update", "Upsert", "Remove", None}


def _strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _tx(el) -> str | None:
    t = el.get(_TX)
    if t not in _VALID_TX:
        raise ValueError(f"invalid TransactionType {t!r} on <{_strip(el.tag)}>")
    return t.lower() if t else None


_ITEM_TAGS = {"ItemData", "ItemDataString", "ItemDataInteger", "ItemDataFloat", "ItemDataDatetime"}
# the CLOSED set of ODM subject-hierarchy tags (r11 review: the old
# `tag.endswith("Data")` heuristic dead-lettered LEGAL vendor-extension
# elements — ODM explicitly allows foreign-namespace children at every
# level, and any <x:FooData/> extension matched the suffix; it also
# could not be used at the ODM root, where AdminData/ReferenceData are
# legal siblings that end in "Data")
_HIERARCHY_TAGS = {"SubjectData", "StudyEventData", "FormData", "ItemGroupData"} | _ITEM_TAGS

_TYPED_DTYPES = {  # hoisted (r11 review): was rebuilt per item element
    "ItemDataString": "string",
    "ItemDataInteger": "integer",
    "ItemDataFloat": "float",
    "ItemDataDatetime": "date-time",
}


def _is_hierarchy_tag(tag: str) -> bool:
    # startswith("ItemData") keeps unsupported TYPED item variants
    # (e.g. ItemDataBoolean) on the dead-letter path — a typed leaf we
    # cannot canonicalize is lost data, not an ignorable extension
    return tag in _HIERARCHY_TAGS or tag.startswith("ItemData")


def _data_children(el, expected: set[str]) -> list:
    """The hierarchy children of ``el``, tag-dispatched.

    CDISC ODM legitimately interleaves non-hierarchy elements at every
    level (SiteRef / InvestigatorRef / AuditRecord(s) / Annotation(s) /
    Signature(s), vendor extensions, …) — those are SKIPPED, not
    misparsed as the next hierarchy level (a SiteRef under SubjectData
    must not become a bogus StudyEventData row) and not dead-lettered.
    A *misplaced* hierarchy element (FormData directly under
    SubjectData, an ItemData* outside ItemGroupData, or an unsupported
    ItemData* type) IS a structure error: silently dropping it would
    lose data, so the file dead-letters.  Membership is the CLOSED
    _HIERARCHY_TAGS set, not a name suffix — a legal foreign
    <x:FooData/> extension must not kill the file."""
    kids = []
    for ch in el:
        tag = _strip(ch.tag)
        if tag in expected:
            kids.append(ch)
        elif _is_hierarchy_tag(tag):
            raise ValueError(f"unexpected <{tag}> under <{_strip(el.tag)}>")
        # else: legal non-hierarchy ODM child — irrelevant to the data model
    return kids


def _req(el, attr: str) -> str:
    """Required identity attribute (r11 review: a missing SubjectKey /
    *OID previously produced NULL path components that vanished from
    their own level's isNotNull projection while their item rows kept
    flowing — orphaned commands referencing a subject no table holds.
    The ODM schema requires these; absence is structural corruption ->
    dead-letter)."""
    v = el.get(attr)
    if not v:
        raise ValueError(f"missing required {attr} on <{_strip(el.tag)}>")
    return v


def parse_odm_bytes(path: str, blob: bytes) -> list[dict]:
    """One ODM file -> normalized item-level rows (or one error row).

    Documented reference-parity limits (r11 review adjudications):

    - Repeat keys (StudyEventRepeatKey / FormRepeatKey /
      ItemGroupRepeatKey) are NOT part of the identity path — the
      reference's tree is MAP-keyed by OID alone (SURVEY §1.1:
      ``:study-events {oid → study-event}``), so repeating groups
      collapse there too; our distinct()-per-level projection matches
      that model.  A pipeline needing repeat-grain identity would
      extend the OID path (and the uuid5 chain) — a deliberate
      divergence from the reference, not taken.
    - ``TransactionType="Context"`` (legal ODM 1.3) dead-letters: the
      reference's dispatch universe is exactly
      {insert, update, upsert, remove} (``import_clinical_data.clj:
      106-263`` defmethods) and an unlisted tx is a hard dispatch
      error there as well.
    - Typed element text is ``.strip()``-ed (pretty-print tolerance,
      pinned by test_empty_vs_absent_item_value): whitespace-
      SIGNIFICANT string values are thereby canonicalized — two values
      differing only in edge whitespace share a value_canon and hence
      a cmd_id.  Documented trade: rendered/pretty XML round-trips,
      at the cost of edge-whitespace fidelity.
    """
    base = dict.fromkeys(
        (
            "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid",
            "item_group_oid", "item_oid", "subject_tx", "study_event_tx", "form_tx",
            "item_group_tx", "item_tx", "data_type", "value_canon",
        )
    )
    try:
        root = ET.fromstring(blob)
        rows: list[dict] = []
        file_oid = root.get("FileOID")
        if not file_oid:
            raise ValueError("missing FileOID")
        for cd in root:
            # ODM's top level legitimately carries Study / AdminData /
            # ReferenceData / Association siblings — only ClinicalData
            # holds the subject hierarchy.  A subject-hierarchy element
            # DIRECTLY under the root (a corrupt merge that lost its
            # ClinicalData wrapper) must dead-letter, not vanish — the
            # same invariant _data_children enforces one level down
            # (r11 review).
            tag = _strip(cd.tag)
            if tag != "ClinicalData":
                if _is_hierarchy_tag(tag):
                    raise ValueError(f"unexpected <{tag}> under <ODM>")
                continue
            study_oid = _req(cd, "StudyOID")
            for subj in _data_children(cd, {"SubjectData"}):
                s = dict(base, file_path=path, file_oid=file_oid, study_oid=study_oid,
                         subject_key=_req(subj, "SubjectKey"), subject_tx=_tx(subj), error=None)
                ses = _data_children(subj, {"StudyEventData"})
                if not ses:
                    rows.append(s)  # childless subtree terminates here
                for se in ses:
                    e = dict(s, study_event_oid=_req(se, "StudyEventOID"), study_event_tx=_tx(se))
                    forms = _data_children(se, {"FormData"})
                    if not forms:
                        rows.append(e)
                    for form in forms:
                        f = dict(e, form_oid=_req(form, "FormOID"), form_tx=_tx(form))
                        igs = _data_children(form, {"ItemGroupData"})
                        if not igs:
                            rows.append(f)
                        for ig in igs:
                            g = dict(f, item_group_oid=_req(ig, "ItemGroupOID"), item_group_tx=_tx(ig))
                            items = _data_children(ig, _ITEM_TAGS)
                            if not items:
                                rows.append(g)
                            for item in items:
                                tag = _strip(item.tag)
                                # typed form: ItemDataString / ItemDataInteger / ...
                                # (_data_children guarantees tag ∈ _ITEM_TAGS)
                                dtype = _TYPED_DTYPES.get(tag)
                                if dtype is not None:
                                    # strip() tolerates pretty-printed input
                                    # (indentation around element text); an
                                    # empty element stays '' — NULL means
                                    # ABSENT (generic form with no Value=),
                                    # never present-but-empty
                                    value = (item.text or "").strip()
                                else:
                                    # generic CDISC form: <ItemData ItemOID=…
                                    # Value=… [DataType=…]> — also valid ODM;
                                    # the reference's lens-odm-parser consumes
                                    # the same :data-type/:value pairs
                                    # (import_clinical_data.clj:59-66), so
                                    # these must NOT dead-letter
                                    dtype = (item.get("DataType") or "string").lower()
                                    if dtype not in {"string", "integer", "float", "date-time", "datetime"}:
                                        raise ValueError(
                                            f"unknown ItemData DataType {item.get('DataType')!r}"
                                        )
                                    dtype = "date-time" if dtype == "datetime" else dtype
                                    value = item.get("Value")
                                rows.append(
                                    dict(
                                        g,
                                        item_oid=_req(item, "ItemOID"),
                                        item_tx=_tx(item),
                                        data_type=dtype,
                                        value_canon=value,
                                    )
                                )
        return rows
    except (ET.ParseError, ValueError) as exc:
        # malformed content: re-delivery can never succeed -> fatal
        # (reference broker.clj:62-63 sends :requeue false for these)
        return [dict(base, file_path=path, error=f"{type(exc).__name__}: {exc}", retryable=False)]
    except Exception as exc:  # noqa: BLE001 — transient executor faults
        # anything else (OOM slice, fs hiccup) is environmental: the
        # same bytes may parse on re-delivery -> retryable (:requeue
        # true, broker.clj:87-95)
        return [dict(base, file_path=path, error=f"{type(exc).__name__}: {exc}", retryable=True)]


def _parse_blob_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel shared by the batch and streaming readers."""
    cols = [f.split(" ")[0] for f in PARSED_SCHEMA.split(", ")]
    for pdf in batches:
        out: list[dict] = []
        for path, blob in zip(pdf["path"], pdf["content"]):
            out.extend(parse_odm_bytes(path, bytes(blob)))
        yield pd.DataFrame(out, columns=cols)


def read_odm_xml(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed scan+parse: binaryFile source → mapInPandas parse.
    Each file parses independently on an executor; at 100 TB the unit
    of parallelism is the file, matching the reference's
    one-file-per-batch-command model but N-wide."""
    from .parquet import ensure_engine_confs

    ensure_engine_confs(spark)
    blobs = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return blobs.mapInPandas(_parse_blob_batches, PARSED_SCHEMA)


# binaryFile exposes no streaming schema inference, so the source
# schema is pinned (it is fixed by the format, not the data)
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_odm_xml_stream(
    spark: SparkSession, path_glob: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """STREAMING twin of :func:`read_odm_xml` (reference A4: one ODM
    file arrives per batch command, ``broker.clj`` consume loop):
    a binaryFile ``readStream`` delivers newly-landed XML files
    per trigger and the SAME ``mapInPandas`` kernel parses them —
    ``maxFilesPerTrigger=1`` reproduces the reference's
    one-file-per-command cadence exactly, larger values batch the
    backlog (A25 bounded concurrency).  Route the output with
    :func:`route_parsed`; the retryable side feeds back through the
    file source like ``requeue_sink``.  Streaming == batch is pinned
    by tests/test_odm_xml.py::test_xml_stream_equals_batch."""
    from .parquet import ensure_engine_confs

    ensure_engine_confs(spark)
    reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    blobs = reader.load(path_glob).select("path", "content")
    return blobs.mapInPandas(_parse_blob_batches, PARSED_SCHEMA)


def split_errors(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid_rows, dead_letter_rows) — reference A22's 3-way split
    collapsed to 2 (undecodable and invalid both dead-letter here)."""
    from pyspark.sql import functions as F

    return parsed.where(F.col("error").isNull()), parsed.where(F.col("error").isNotNull())


def route_parsed(parsed: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full A22 3-way routing: (valid, retryable, fatal).

    ``retryable`` is the requeue path (reference ``broker.clj:87-95``
    nack+requeue); ``fatal`` is the dead-letter path (ack + error
    event).  A requeue loop re-feeds the retryable rows' files to the
    source; deterministic command ids make the replay idempotent."""
    from pyspark.sql import functions as F

    valid, errs = split_errors(parsed)
    # NULL retryable (a sink round-trip that defaulted the column, or a
    # future error path that forgot to set it) must not vanish from both
    # sides — (retryable) and (~retryable) each exclude NULL, so the
    # split would silently LOSE the record.  NULL ranks as fatal: the
    # 3-way split stays a partition of the input.
    r = F.coalesce(F.col("retryable"), F.lit(False))
    return valid, errs.where(r), errs.where(~r)


def odm_tables_from_xml(parsed: DataFrame, file_oid_meta: DataFrame):
    """Denormalized item-grain parse output -> the six-level OdmTables
    (distinct projections per level; SURVEY §1.3).

    ``file_oid_meta`` supplies (file_oid, file_type, batch_cmd_id, sub)
    — the batch-command envelope the reference receives over AMQP.

    Subject/SE/form/IG rows that carry Remove/Update with NO item
    children still appear: the parser emits their paths on item rows
    when children exist; childless interior nodes are only visible at
    their own level, so levels are built from the union of (rows at
    this grain) — for this engine the parser emits an item row per
    leaf, and childless subtrees terminate at the deepest present
    level (matching the reference, which walks whatever children maps
    exist).
    """
    from pyspark.sql import functions as F

    from ..plans.odm import OdmTables

    valid = split_errors(parsed)[0]

    def level(cols: list[str], tx_col: str):
        return (
            valid.where(F.col(cols[-1]).isNotNull())
            .select(*cols, F.col(tx_col).alias("tx_type"))
            .distinct()
        )

    subjects = level(["file_oid", "study_oid", "subject_key"], "subject_tx")
    ses = level(
        ["file_oid", "study_oid", "subject_key", "study_event_oid"], "study_event_tx"
    )
    forms = level(
        ["file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid"], "form_tx"
    )
    igs = level(
        ["file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid", "item_group_oid"],
        "item_group_tx",
    )
    items = (
        valid.where(F.col("item_oid").isNotNull())
        .select(
            "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid",
            "item_group_oid", "item_oid",
            F.col("item_tx").alias("tx_type"),
            "data_type", "value_canon",
        )
    )
    return OdmTables(file_oid_meta, subjects, ses, forms, igs, items)
