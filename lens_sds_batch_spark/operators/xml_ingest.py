"""Oracle-gated ODM XML ingestion (reference A2/A3 under the hard gate).

The reference's PRIMARY input is an ODM XML blob parsed per batch
command (``/root/reference/src/lens/import_clinical_data.clj:303-310``,
``file_storage.clj:12-17``).  ``sources/odm_xml.py`` implements the
distributed twin (binaryFile scan → executor-side ``mapInPandas``
parse) and is pytest-pinned, but until r8 it was the one core
reference operator with no ``queries()`` entry — the driver's
hash-compare never exercised the scan→parse→normalize path
end-to-end.  This module closes that seam:

1. RENDER: derive a deterministic subset of the ODM tree from the sf
   parquet (same column algebra as ``plans/odm.derive_odm_from_tpch``,
   restricted to ``c_custkey % SUBSET_MOD == 0``), fan it into
   ``ceil(n_subjects / SUBJECTS_PER_FILE)`` single-line XML documents
   with ``applyInPandas`` (one group = one file = one executor task),
   and write them through the standard partitioned text sink — plus
   ONE deliberately malformed document.
2. INGEST: ``read_odm_xml`` scans the written files as binary blobs,
   parses each on an executor, and the malformed one must surface as a
   dead-letter row (A22 routing), NOT an exception.
3. COMPARE: the returned frame is the full parsed item-grain output
   (path + per-level tx types + value canon + error flags); the DuckDB
   oracle derives the same rows STRAIGHT from parquet — so any drift
   in the renderer, the parser, the tx normalization, or the
   dead-letter split breaks the hash.

At 100 TB: the unit of parallelism on both sides is the FILE — the
render keys files at SUBJECT-BATCH grain (file count grows with the
corpus, each ``applyInPandas`` group holds ~SUBJECTS_PER_FILE subjects
regardless of scale; r9, replacing the fixed 8-file fan whose group
size was linear in the corpus), the scan parallelizes per file, and
nothing ever collects to the driver.  The render is a test HARNESS
for the ingest path; production data arrives as XML already.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.odm import (
    ITEM_ATTRS,
    _form_tx,
    _se_tx,
    _subject_tx,
    canon_col,
    form_oid_col,
    se_oid_col,
    study_oid_col,
    subject_key_col,
)
from ..session import local_ckpt, local_df
from ..sources.odm_xml import read_odm_xml, route_parsed
from ..sources.parquet import load_table

# Deterministic subset: custkeys ≡ 0 (mod 29).  29 is coprime with
# EVERY tx mixer (subject %10, se %7, form %5, ig %11, item %3) and the
# study fan (%3), so every tx verb and NULL-inheritance branch still
# occurs in the subset (~10k compared rows at the sf0.01 gate — plenty
# of signal without dominating the bench suite).  Changing SUBSET_MOD
# or adding a mixer: re-check coprimality against the FULL list, or a
# mixer branch goes vacuous (the all-NULL shape the parity guard
# rejects).
SUBSET_MOD = 29

# File keying is SUBJECT-BATCH grain (r8 verdict): the file count grows
# with the corpus (ceil(n_subjects / SUBJECTS_PER_FILE), subjects =
# subset customers) so each applyInPandas render group holds O(batch)
# subjects no matter the scale — a fixed file count meant 10x data =
# 10x rows per group, and a single group would eventually exhaust one
# executor.  The count is computed INSIDE the plan (1-row aggregate,
# broadcast crossJoin — the Q22 scalar pattern, never a driver
# collect) and mirrored verbatim in the oracle's ``nf`` CTE.  If the
# derived count lands on a multiple of SUBSET_MOD it is bumped by one:
# every subset custkey is ≡ 0 (mod 29), so ``29k % 29m`` would collapse
# the residues to multiples of 29 — with n_files == 29 that is ONE
# file holding the whole corpus (skew, and the exact unbounded group
# this keying exists to prevent).
SUBJECTS_PER_FILE = 8


def _n_files_frame(customer_subset: DataFrame) -> DataFrame:
    """1-row frame with the derived file count (Spark side of the
    ``nf`` oracle CTE).  ``customer_subset`` must already carry the
    %SUBSET_MOD filter."""
    return customer_subset.agg(F.count(F.lit(1)).alias("n_sub")).select(
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.col("n_sub") / SUBJECTS_PER_FILE),
        ).alias("raw")
    ).select(
        F.when(F.col("raw") % SUBSET_MOD == 0, F.col("raw") + 1)
        .otherwise(F.col("raw"))
        .alias("n_files")
    )


def _n_files_sql() -> str:
    """DuckDB twin of :func:`_n_files_frame` (defined adjacent so the
    pair can only drift by editing adjacent lines)."""
    return (
        "SELECT CASE WHEN raw % "
        f"{SUBSET_MOD} = 0 THEN raw + 1 ELSE raw END AS n_files FROM ("
        f"SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {SUBJECTS_PER_FILE}.0) AS BIGINT)) AS raw"
        f" FROM customer WHERE c_custkey % {SUBSET_MOD} = 0)"
    )


def _file_oid_col(key, n_files):
    """FX file-oid (Spark side) — single-sourced: the render grouping
    key and the childless branch must derive the SAME file id, and
    :func:`_file_oid_sql` must mirror it, or the oracle hash breaks.
    ``n_files`` is an int (test knob) or the derived ``n_files``
    Column."""
    return F.concat(F.lit("FX"), (key % n_files).cast("string"))


def _file_oid_sql(key: str, n_files) -> str:
    """DuckDB twin of :func:`_file_oid_col`; ``n_files`` is an int or a
    column reference (the cross-joined ``nf.n_files``)."""
    return f"'FX' || CAST({key} % {n_files} AS VARCHAR)"

_PATH = [
    "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid",
    "item_group_oid", "item_oid",
]
_TXS = ["subject_tx", "study_event_tx", "form_tx", "item_group_tx", "item_tx"]
OUT_COLS = [*_PATH, *_TXS, "data_type", "value_canon"]


def _ig_tx(orderkey):
    """IG-level tx mixer: some item groups carry their own verb so the
    parser's ItemGroupData TransactionType extraction is exercised (and
    hash-pinned) — an all-NULL column is exactly the vacuous-green
    shape the oracle-parity guard rejects."""
    return (
        F.when(orderkey % 11 == 0, "upsert")
        .when(orderkey % 11 == 1, "remove")
        .otherwise(F.lit(None).cast("string"))
    )


# DuckDB twin of _ig_tx — defined HERE so the pair can only drift by
# editing adjacent lines
_IG_TX_SQL = (
    "CASE WHEN l_orderkey % 11 = 0 THEN 'upsert'"
    " WHEN l_orderkey % 11 = 1 THEN 'remove' END"
)


def _rflag_tx(orderkey):
    """Item-level tx mixer (on the RFLAG generic-ItemData element)."""
    return (
        F.when(orderkey % 3 == 0, "update")
        .when(orderkey % 3 == 1, "upsert")
        .otherwise(F.lit(None).cast("string"))
    )


# DuckDB twin of _rflag_tx
_RFLAG_TX_SQL = (
    "CASE WHEN l_orderkey % 3 = 0 THEN 'update'"
    " WHEN l_orderkey % 3 = 1 THEN 'upsert' END"
)


def _cap(tx: str | None) -> str | None:
    return tx.capitalize() if tx else None


# item elements per form, in stable OID order (document order is
# irrelevant to the row-set compare but stable files are nicer to diff)
_RENDER_ATTRS = sorted((oid, dtype) for oid, dtype, _ in ITEM_ATTRS)


def _render_file(pdf: pd.DataFrame) -> pd.DataFrame:
    """One group = one ODM file: nest the FORM-grain rows back into the
    CDISC element tree, serialized SINGLE-LINE (the text sink writes
    one row per line).

    Emitted in ONE O(n) pass over the path-sorted rows (open/close
    tags on key change) — nested pandas groupbys paid ~0.5 ms of
    setup per form group (~20 s build at sf0.1; this is ~1 s).  Each
    row carries its five item values as ``v_<OID>`` columns; typed
    elements for float/date-time and generic ``ItemData Value=`` for
    string/integer exercise both parser branches in every file.
    Values are escaped with the stdlib saxutils, and the round-trip
    is pinned both by the driver hash-compare and the pytest
    differential, so hand-emission cannot drift from what ``ET``
    would produce without being caught."""
    from xml.sax.saxutils import escape, quoteattr

    file_oid = pdf["xml_file"].iloc[0]
    pdf = pdf.sort_values(
        ["study_oid", "subject_key", "study_event_oid", "form_oid"],
        na_position="first",
    )
    out = [f"<ODM FileOID={quoteattr(file_oid)}>"]
    cur_study = cur_subj = cur_se = None

    def close_subject() -> None:
        nonlocal cur_subj, cur_se
        if cur_se is not None:
            out.append("</StudyEventData>")
            cur_se = None
        if cur_subj is not None:
            out.append("</SubjectData>")
            cur_subj = None

    def tx_attr(tx) -> str:
        c = _cap(tx)
        return f" TransactionType={quoteattr(c)}" if c else ""

    for r in pdf.itertuples():
        if r.study_oid != cur_study:
            close_subject()
            if cur_study is not None:
                out.append("</ClinicalData>")
            out.append(f"<ClinicalData StudyOID={quoteattr(r.study_oid)}>")
            cur_study = r.study_oid
        if r.subject_key != cur_subj:
            close_subject()
            out.append(
                f"<SubjectData SubjectKey={quoteattr(r.subject_key)}"
                f"{tx_attr(r.subject_tx)}>"
            )
            cur_subj = r.subject_key
        if r.study_event_oid is None:
            continue  # childless subject: element stays empty
        if r.study_event_oid != cur_se:
            if cur_se is not None:
                out.append("</StudyEventData>")
            out.append(
                f"<StudyEventData StudyEventOID={quoteattr(r.study_event_oid)}"
                f"{tx_attr(r.study_event_tx)}>"
            )
            cur_se = r.study_event_oid
        out.append(
            f"<FormData FormOID={quoteattr(r.form_oid)}{tx_attr(r.form_tx)}>"
            f'<ItemGroupData ItemGroupOID="IG1"{tx_attr(r.ig_tx)}>'
        )
        for oid, dtype in _RENDER_ATTRS:
            v = getattr(r, f"v_{oid}")
            if v is None or (isinstance(v, float) and v != v):
                # NULL source value → the item element is ABSENT, which
                # is how real ODM represents "no value" (the parser's
                # absent-item path, test_empty_vs_absent_item_value) —
                # emitting escape(None) would crash the render instead
                continue
            if dtype == "float":
                out.append(f'<ItemDataFloat ItemOID="{oid}">{escape(v)}</ItemDataFloat>')
            elif dtype == "date-time":
                out.append(
                    f'<ItemDataDatetime ItemOID="{oid}">{escape(v)}</ItemDataDatetime>'
                )
            else:
                itx = tx_attr(r.rflag_tx) if oid == "RFLAG" else ""
                out.append(
                    f'<ItemData ItemOID="{oid}" DataType="{dtype}"'
                    f" Value={quoteattr(v)}{itx}/>"
                )
        out.append("</ItemGroupData></FormData>")
    close_subject()
    if cur_study is not None:
        out.append("</ClinicalData>")
    out.append("</ODM>")
    xml = "".join(out)
    ET.fromstring(xml)  # well-formedness self-check before it hits disk
    return pd.DataFrame({"xml_file": [file_oid], "value": [xml]})


def _form_grain(spark: SparkSession, sf_dir: str, n_files: int | None = None) -> DataFrame:
    """One row per FORM (lineitem) of the subset tree, with the five
    item values as pre-canonicalized ``v_<OID>`` string columns, plus
    one all-NULL-path row per childless subject.

    This is the render input: shipping form grain instead of the
    5-way-exploded item grain puts 5x fewer rows through the
    groupBy-file shuffle + Arrow hop, and the JVM computes every canon
    cast before anything reaches Python.  The pruned orders side is
    broadcast (the %SUBSET_MOD filter defeats size estimation, so the
    planner would otherwise shuffle the full fact table).

    ``n_files`` is the scale knob: file count bounds BOTH render
    parallelism and per-group size.  The default (None) derives it
    from the corpus at SUBJECT-BATCH grain — ceil(n_subjects /
    SUBJECTS_PER_FILE) via a 1-row broadcast scalar — so each render
    group holds ~SUBJECTS_PER_FILE subjects at ANY scale (r9: the
    fixed N_FILES=8 it replaces made group size linear in the corpus).
    Passing an int pins the fan explicitly (the round-trip pytest
    exercises the knob at several values)."""
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % SUBSET_MOD == 0
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey") % SUBSET_MOD == 0
    )
    lineitem = load_table(spark, sf_dir, "lineitem")

    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )
    if n_files is None:
        nf = F.broadcast(_n_files_frame(customer))
        file_n = F.col("n_files")
    else:
        nf = None
        file_n = F.lit(n_files)
    ck = F.col("o_custkey")
    li = lineitem.join(
        F.broadcast(orders.select("o_orderkey", "o_custkey")),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).withColumn("form_seq", F.row_number().over(w))
    if nf is not None:
        li = li.crossJoin(nf)
    canons = [canon_col(src, dtype).alias(f"v_{oid}") for oid, dtype, src in ITEM_ATTRS]
    forms = li.select(
        _file_oid_col(ck, file_n).alias("xml_file"),
        study_oid_col(ck).alias("study_oid"),
        subject_key_col(ck).alias("subject_key"),
        se_oid_col(F.col("l_orderkey")).alias("study_event_oid"),
        form_oid_col(F.col("form_seq")).alias("form_oid"),
        _subject_tx(ck).alias("subject_tx"),
        _se_tx(F.col("l_orderkey")).alias("study_event_tx"),
        _form_tx(F.col("l_orderkey"), F.col("l_linenumber")).alias("form_tx"),
        _ig_tx(F.col("l_orderkey")).alias("ig_tx"),
        _rflag_tx(F.col("l_orderkey")).alias("rflag_tx"),
        *canons,
    )
    cck = F.col("c_custkey")
    nulls = [F.lit(None).cast("string").alias(c) for c in (
        "study_event_oid", "form_oid", "study_event_tx", "form_tx",
        "ig_tx", "rflag_tx",
        *(f"v_{oid}" for oid, _, _ in ITEM_ATTRS),
    )]
    childless = customer.join(
        orders.select("o_custkey"), cck == F.col("o_custkey"), "left_anti"
    )
    if nf is not None:
        childless = childless.crossJoin(nf)
    childless = childless.select(
        _file_oid_col(cck, file_n).alias("xml_file"),
        study_oid_col(cck).alias("study_oid"),
        subject_key_col(cck).alias("subject_key"),
        _subject_tx(cck).alias("subject_tx"),
        *nulls,
    )
    return forms.unionByName(childless.select(*forms.columns))


def _subset_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-grain rows of the subset ODM tree, PARSED-OUTPUT-shaped
    (ancestor tx types riding on every row; one subject-level row per
    childless subject) — exactly what ``parse_odm_bytes`` emits for the
    rendered files.  Used by the pytest differential; the oracle SQL
    restates the same derivation in DuckDB."""
    base = _form_grain(spark, sf_dir)
    nstr = F.lit(None).cast("string")
    attr_structs = [
        F.struct(
            F.lit(oid).alias("item_oid"),
            (F.col("rflag_tx") if oid == "RFLAG" else nstr).alias("item_tx"),
            F.lit(dtype).alias("data_type"),
            F.col(f"v_{oid}").alias("value_canon"),
        )
        for oid, dtype, _ in ITEM_ATTRS
    ]
    shared = [
        "xml_file", "study_oid", "subject_key", "study_event_oid", "form_oid",
        "subject_tx", "study_event_tx", "form_tx",
    ]
    items = base.where(F.col("study_event_oid").isNotNull()).select(
        *shared,
        F.lit("IG1").alias("item_group_oid"),
        F.col("ig_tx").alias("item_group_tx"),
        F.inline(F.array(*attr_structs)),
    )
    childless = base.where(F.col("study_event_oid").isNull()).select(
        *shared,
        *(
            nstr.alias(c)
            for c in ("item_group_oid", "item_group_tx", "item_oid", "item_tx",
                      "data_type", "value_canon")
        ),
    )
    return items.unionByName(childless).select(
        "xml_file", *[c for c in OUT_COLS if c != "file_oid"]
    )


BAD_XML = '<ODM FileOID="BAD"><ClinicalData><unclosed></ODM>'


def render_odm_xml(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int | None = None
) -> str:
    """Render the subset tree into single-line XML docs (plus one
    malformed doc) through the partitioned text sink; returns the glob
    that matches the written documents.  File count defaults to the
    subject-batch-grain derivation (see :func:`_form_grain`); pass an
    int to pin the fan explicitly."""
    rows = _form_grain(spark, sf_dir, n_files)
    docs = rows.groupBy("xml_file").applyInPandas(
        _render_file, "xml_file string, value string"
    )
    bad = local_df(spark, [("FXBAD", BAD_XML)], "xml_file string, value string")
    docs.unionByName(bad).write.mode("overwrite").partitionBy("xml_file").text(out_dir)
    return out_dir + "/xml_file=*/part-*"


_GC_MTIME_FLOOR_SEC = 3600.0


def _gc_stale_render_dirs(render_root: str) -> None:
    """Best-effort removal of ``<sf>-<pid>`` scratch dirs whose owning
    process is gone — without this every pytest/bench/driver invocation
    leaves one rendered XML corpus behind forever (disk grows without
    bound across runs).  A LIVE pid's dir is never touched, so
    concurrent processes stay isolated; races/permission errors are
    ignored (the next run retries).

    EPERM means the pid EXISTS but under another uid — almost always
    pid reuse by an unrelated process, since our render dirs are
    created and consumed by same-uid Spark drivers.  Unconditionally
    keeping such dirs leaks them forever (r8 verdict #4: pid space
    recycles, the squatter can live for months).  The mtime floor
    breaks the tie: a render dir is written and scanned within one
    query run (minutes), so one untouched for an hour whose pid we
    can't even signal is stale — GC it; a FRESH dir under EPERM is
    still left alone in case it really is a cross-uid concurrent run."""
    import os
    import shutil
    import time

    try:
        entries = os.listdir(render_root)
    except OSError:
        return
    for name in entries:
        # merge_into leaves "<sf>-<pid>.__tmp" / ".__lease" siblings
        # when a run dies mid-merge (the entity-state scratch targets)
        # — strip those suffixes so their pid parses and dead
        # processes' merge debris is GC'd too
        base = name
        for suf in (".__tmp", ".__lease"):
            if base.endswith(suf):
                base = base[: -len(suf)]
        pid_s = base.rsplit("-", 1)[-1]
        if not pid_s.isdigit() or int(pid_s) == os.getpid():
            continue
        path = os.path.join(render_root, name)
        try:
            os.kill(int(pid_s), 0)  # 0 = liveness probe only, no signal sent
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except OSError:
            # Freshness = max mtime over the dir AND its immediate
            # children (advisor r9): appends inside subdirectories do
            # not bump the parent's mtime, so stat'ing only the top
            # level would classify an actively-written cross-uid corpus
            # as stale after an hour.  One-level scan is enough — the
            # render layout is flat files plus per-subject dirs whose
            # own mtimes change on every file append.
            try:
                mtimes = [os.stat(path).st_mtime]
                with os.scandir(path) as it:
                    mtimes.extend(e.stat(follow_symlinks=False).st_mtime for e in it)
                stale = time.time() - max(mtimes) > _GC_MTIME_FLOOR_SEC
            except OSError:
                continue  # raced away / unstatable: next run retries
            if stale:
                shutil.rmtree(path, ignore_errors=True)


def odm_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gated query: render → binaryFile scan → mapInPandas parse →
    3-way route, returning valid rows AND the dead-letter flags so the
    oracle pins the split, not just the happy path.

    Render scratch dir (r8 review): keyed by (sf, PID) so CONCURRENT
    processes on the same sf (a pytest worker racing the bench/driver)
    never overwrite each other's files mid-scan; within one process
    re-runs reuse+overwrite the same dir, bounding accumulation, and
    dead processes' leftovers are GC'd below so repeated runs don't
    grow the disk one rendered corpus per invocation.  The base
    defaults to the repo checkout's gitignored ``spark-warehouse``
    and is overridable with ``SPARK_GRAFT_RENDER_DIR`` for installed
    deploys (a site-packages-relative default would write into the
    install tree)."""
    import os

    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.environ.get("SPARK_GRAFT_RENDER_DIR") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
    )
    render_root = os.path.join(base, "odm_xml_render")
    _gc_stale_render_dirs(render_root)
    out_dir = os.path.join(render_root, f"{sf_name}-{os.getpid()}")
    glob = render_odm_xml(spark, sf_dir, out_dir)
    # the 3-way route filters the SAME parsed frame three ways and the
    # output unions them — without a shared materialization each branch
    # re-scans and re-parses every XML file (3x the parse cost)
    parsed = local_ckpt(read_odm_xml(spark, glob), eager=False)
    valid, retryable, fatal = route_parsed(parsed)
    routed = (
        valid.withColumn("is_error", F.lit(0)).withColumn("is_fatal", F.lit(0))
        .unionByName(
            retryable.withColumn("is_error", F.lit(1)).withColumn("is_fatal", F.lit(0))
        )
        .unionByName(
            fatal.withColumn("is_error", F.lit(1)).withColumn("is_fatal", F.lit(1))
        )
    )
    return routed.select(*OUT_COLS, "is_error", "is_fatal")


def _oracle_sql() -> str:
    from ..oracle import _items_union, SUBJECT_TX, SE_TX, FORM_TX

    subj_tx_o = SUBJECT_TX.replace("c_custkey", "o_custkey")
    # the inner subquery exposes l.* + o_custkey only; l_orderkey ==
    # o_orderkey on the join key
    se_tx_o = SE_TX.replace("o_orderkey", "l_orderkey")

    def tx_sql(oid: str) -> str:
        item_tx = _RFLAG_TX_SQL if oid == "RFLAG" else "CAST(NULL AS VARCHAR)"
        return (
            "subject_tx, study_event_tx, form_tx,"
            f" {_IG_TX_SQL} AS item_group_tx, {item_tx} AS item_tx"
        )

    items_union = _items_union(tx_sql)
    out = ", ".join(OUT_COLS)
    return f"""
WITH nf AS MATERIALIZED (
  {_n_files_sql()}
),
ords AS MATERIALIZED (
  SELECT * FROM orders WHERE o_custkey % {SUBSET_MOD} = 0
),
li AS MATERIALIZED (
  SELECT {_file_oid_sql("o_custkey", "n_files")} AS file_oid,
         'ST' || CAST(o_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(o_custkey AS VARCHAR) AS subject_key,
         'SE' || CAST(l_orderkey AS VARCHAR) AS study_event_oid,
         'FM' || CAST(form_seq AS VARCHAR) AS form_oid,
         {subj_tx_o} AS subject_tx,
         {se_tx_o} AS study_event_tx,
         {FORM_TX} AS form_tx,
         l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag,
         l_shipdate, l_partkey
  FROM (
    SELECT l.*, o.o_custkey,
           row_number() OVER (
             PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                      l_extendedprice, l_discount, l_tax, l_returnflag,
                      l_linestatus, l_shipdate
           ) AS form_seq
    FROM lineitem l JOIN ords o ON l.l_orderkey = o.o_orderkey
  ) CROSS JOIN nf
),
item_rows AS ({items_union}),
childless AS (
  SELECT {_file_oid_sql("c_custkey", "n_files")} AS file_oid,
         'ST' || CAST(c_custkey % 3 AS VARCHAR) AS study_oid,
         'SK' || CAST(c_custkey AS VARCHAR) AS subject_key,
         CAST(NULL AS VARCHAR) AS study_event_oid,
         CAST(NULL AS VARCHAR) AS form_oid,
         CAST(NULL AS VARCHAR) AS item_group_oid,
         CAST(NULL AS VARCHAR) AS item_oid,
         {SUBJECT_TX} AS subject_tx,
         CAST(NULL AS VARCHAR) AS study_event_tx,
         CAST(NULL AS VARCHAR) AS form_tx,
         CAST(NULL AS VARCHAR) AS item_group_tx,
         CAST(NULL AS VARCHAR) AS item_tx,
         CAST(NULL AS VARCHAR) AS data_type,
         CAST(NULL AS VARCHAR) AS value_canon
  FROM customer c CROSS JOIN nf
  WHERE c_custkey % {SUBSET_MOD} = 0
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
)
SELECT {out}, 0 AS is_error, 0 AS is_fatal FROM item_rows
UNION ALL
SELECT {out}, 0 AS is_error, 0 AS is_fatal FROM childless
UNION ALL
SELECT {", ".join(f"CAST(NULL AS VARCHAR) AS {c}" for c in OUT_COLS)},
       1 AS is_error, 1 AS is_fatal
"""


QUERIES: dict[str, tuple] = {
    "odm_xml_ingest": (odm_xml_ingest, _oracle_sql()),
}


# Predicate-power probes (see registry.all_probes / dedup.PROBES header)
PROBES: dict[str, tuple] = {
    "xml ingest splits parsed rows and dead letters": (
        "odm_xml_ingest", "oracle",
        "SELECT sum(is_error), sum(1 - is_error) FROM t"),
    "xml dead letters split fatal vs requeue-able": (
        "odm_xml_ingest", "oracle",
        "SELECT sum(CASE WHEN is_error=1 AND is_fatal=1 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN is_error=1 AND is_fatal=0 THEN 1 ELSE 0 END) FROM t"),
}
