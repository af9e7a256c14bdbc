"""The ODM clinical-data tree as DataFrames (reference §1.1 data model).

The reference consumes one nested ODM map per file (Study → Subject →
StudyEvent → Form → ItemGroup → Item, reference
``src/lens/import_clinical_data.clj:265-286``).  Our primary
representation is the *normalized long form*: one DataFrame per
hierarchy level carrying the full OID path (FK chain) plus a nullable
``tx_type``.  A nested single-row-per-file representation
(array-of-struct columns) and the explode path between the two
(reference A9, ``pipeline-async`` fan-out at
``import_clinical_data.clj:85-90``) live in :func:`nest` /
:func:`normalize`.

Because the driver's oracle only registers the ten TPC-H-ish testdata
tables, :func:`derive_odm_from_tpch` derives a deterministic ODM tree
*from* them (customer→subject, order→study-event, lineitem→form,
column-unpivot→EAV items) so the flagship pipeline is end-to-end
DuckDB-checkable.  The same derivation is mirrored in
``lens_sds_batch_spark/oracle.py``.

:func:`fused_commands` is the flagship's denormalized path over the
same tree: tx resolution and id chains computed per row at the
coarsest grain (no parent-child joins) and fed to the single-pass
command generator.  :func:`resolved_subjects` is its subject level,
shared with the subject-level entity-store queries.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import NIL_UUID, keyfn, uuid3_str_py
from ..session import local_df
from ..sources.parquet import fan_out, load_table

# Fixed identifiers of the single derived "ODM file".
FILE_OID = "F-0001"
SUB = "importer-1"
# the one item group per derived form
IG_OID = "IG1"
# batch command id: itself derived deterministically (stable literal both sides)
BATCH_CMD_ID = uuid3_str_py(NIL_UUID, ["batch-cmd", FILE_OID])

# EAV unpivot of lineitem value columns -> items (item_oid, data_type, source col)
ITEM_ATTRS = (
    ("QTY", "float", "l_quantity"),
    ("EPRICE", "float", "l_extendedprice"),
    ("RFLAG", "string", "l_returnflag"),
    ("SHIP", "date-time", "l_shipdate"),
    ("PARTK", "integer", "l_partkey"),
)


def study_oid_col(custkey):
    """Derived-tree OID builders — like :func:`canon_col`, these are
    cross-engine hash contracts (mirrored literally in the oracle SQL)
    that had accumulated inline copies across the three derivations
    (generic, fused, XML-render); one definition each (r8 review)."""
    return F.concat(F.lit("ST"), (custkey % 3).cast("string"))


def subject_key_col(custkey):
    return F.concat(F.lit("SK"), custkey.cast("string"))


def se_oid_col(orderkey):
    return F.concat(F.lit("SE"), orderkey.cast("string"))


def form_oid_col(form_seq):
    return F.concat(F.lit("FM"), form_seq.cast("string"))


def canon_col(src: str, dtype: str):
    """The cross-engine canonical value string for one EAV attribute —
    THE hashing contract with the oracle's ``_VALUE_CANON`` (floats as
    DECIMAL(18,2) strings, timestamps as epoch seconds, ints/strings
    verbatim).  Single definition (r8 review): three Spark-side copies
    of this if/elif had accumulated, and a canonicalization change
    applied to some but not all of them would break the oracle hash
    only for the stale operators."""
    if dtype == "float":
        return F.col(src).cast("decimal(18,2)").cast("string")
    if dtype == "date-time":
        return F.unix_timestamp(F.col(src)).cast("string")
    return F.col(src).cast("string")


@dataclass
class OdmTables:
    """The six normalized levels (SURVEY.md §1.3)."""

    files: DataFrame
    subjects: DataFrame
    study_events: DataFrame
    forms: DataFrame
    item_groups: DataFrame
    items: DataFrame


def _subject_tx(custkey):
    m = custkey % 10
    return (
        F.when(m <= 3, F.lit(None).cast("string"))
        .when(m <= 5, F.lit("insert"))
        .when(m == 6, F.lit("update"))
        .when(m == 7, F.lit("upsert"))
        .when(m == 8, F.lit("remove"))
        .otherwise(F.lit("insert"))
    )


def _se_tx(orderkey):
    m = orderkey % 7
    return (
        F.when(m == 0, "update")
        .when(m == 1, "remove")
        .when(m == 2, "upsert")
        .otherwise(F.lit(None).cast("string"))
    )


def _form_tx(orderkey, linenumber):
    m = (orderkey + linenumber) % 5
    return (
        F.when(m == 0, "update")
        .when(m == 1, "remove")
        .otherwise(F.lit(None).cast("string"))
    )


def derive_odm_from_tpch(spark: SparkSession, sf_dir: str) -> OdmTables:
    """Deterministic ODM tree derived from customer/orders/lineitem.

    tx_type mixes all four verbs plus NULL (inheritance), exercising the
    reference's dispatch matrix (``import_clinical_data.clj:92-100``).
    Mirrored line-for-line by ``oracle.ODM_CTES`` — keep in sync.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    files = local_df(
        spark,
        [(FILE_OID, "transactional", BATCH_CMD_ID, SUB)],
        "file_oid string, file_type string, batch_cmd_id string, sub string",
    )

    subjects = customer.select(
        F.lit(FILE_OID).alias("file_oid"),
        study_oid_col(F.col("c_custkey")).alias("study_oid"),
        subject_key_col(F.col("c_custkey")).alias("subject_key"),
        _subject_tx(F.col("c_custkey")).alias("tx_type"),
    )

    study_events = orders.select(
        F.lit(FILE_OID).alias("file_oid"),
        study_oid_col(F.col("o_custkey")).alias("study_oid"),
        subject_key_col(F.col("o_custkey")).alias("subject_key"),
        se_oid_col(F.col("o_orderkey")).alias("study_event_oid"),
        _se_tx(F.col("o_orderkey")).alias("tx_type"),
    )

    # forms need the customer key -> join lineitem to orders (broadcast-able
    # only at tiny SF; at scale this is a co-partitioned equi-join on the
    # orderkey, the natural TPC-H distribution key).  (l_orderkey,
    # l_linenumber) is NOT unique in this synthetic data, but an ODM tree
    # is map-keyed (unique child OIDs per parent) — so the form sequence
    # is a deterministic per-order row_number over a total column order.
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )
    # li feeds three levels (forms, item_groups, items) — persist the
    # windowed join once instead of recomputing it per branch.
    li = (
        lineitem.join(orders.select("o_orderkey", "o_custkey"), lineitem.l_orderkey == orders.o_orderkey)
        .withColumn("form_seq", F.row_number().over(w))
        .persist()
    )
    form_cols = [
        F.lit(FILE_OID).alias("file_oid"),
        study_oid_col(F.col("o_custkey")).alias("study_oid"),
        subject_key_col(F.col("o_custkey")).alias("subject_key"),
        se_oid_col(F.col("l_orderkey")).alias("study_event_oid"),
        form_oid_col(F.col("form_seq")).alias("form_oid"),
    ]
    forms = li.select(
        *form_cols,
        _form_tx(F.col("l_orderkey"), F.col("l_linenumber")).alias("tx_type"),
    )

    item_groups = li.select(
        *form_cols,
        F.lit(IG_OID).alias("item_group_oid"),
        F.lit(None).cast("string").alias("tx_type"),
    )

    # EAV items: unpivot the lineitem measure columns in ONE pass via
    # inline(array(struct...)) — a generator expression, not a 5-way
    # re-scan union.  Canonical value string (value_canon) is the
    # cross-engine hashing form: floats as DECIMAL(18,2) strings,
    # timestamps as epoch seconds, ints verbatim.
    attr_structs = [
        F.struct(
            F.lit(oid).alias("item_oid"),
            F.lit(dtype).alias("data_type"),
            canon_col(src, dtype).alias("value_canon"),
        )
        for oid, dtype, src in ITEM_ATTRS
    ]
    items = li.select(
        *form_cols,
        F.lit(IG_OID).alias("item_group_oid"),
        F.lit(None).cast("string").alias("tx_type"),
        F.inline(F.array(*attr_structs)),
    ).select(
        "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid",
        "item_group_oid", "item_oid", "tx_type", "data_type", "value_canon",
    )

    return OdmTables(files, subjects, study_events, forms, item_groups, items)


# ---------------------------------------------------------------------------
# Fused derivation (denormalized fast path)
# ---------------------------------------------------------------------------

def _subj_rtx(custkey):
    return F.coalesce(_subject_tx(custkey), F.lit("insert"))


def resolved_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived tree's subject level with its resolved tx (``rtx``):
    one customer-grain projection, no join and no id hash.  The fused
    command derivation adds the id chain on top; the subject-level
    entity-store queries (``operators/cdc.py``) read only
    ``study_oid``/``subject_key``/``rtx``."""
    ck = F.col("c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        F.lit(FILE_OID).alias("file_oid"),
        study_oid_col(ck).alias("study_oid"),
        subject_key_col(ck).alias("subject_key"),
        _subject_tx(ck).alias("tx_type"),
        _subj_rtx(ck).alias("rtx"),
    )


def fused_commands(
    spark: SparkSession,
    sf_dir: str,
    batch_cmd_id: str,
    sub: str,
    flavor: str = "md5",
) -> DataFrame:
    """The flagship command set: the derived tree resolved, identified
    and turned into commands WITHOUT parent-child resolve joins, fed to
    the single-pass generator (``commands.generate_commands_single_pass``,
    r15) so the form-grain frontier is computed exactly once.  Same rows
    and schema as ``generate_commands(derive_odm_from_tpch(...))`` —
    pinned by tests/test_odm_commands.py::test_fused_equals_generic and
    the driver oracle.

    The generic pipeline (``commands.resolve_and_identify``) joins each
    level to its parent to inherit tx-type and carry the parent's id
    down — necessary when levels are independent normalized tables.
    But a *denormalized* source (this column-derived tree, or an
    exploded XML file where ancestors ride on the row) already has
    every ancestor's tx-type computable per-row, so:

    - tx inheritance  = a per-row coalesce chain (no join)
    - remove-pruning  = a per-row filter on ancestor rtx (no join)
    - id chains       = computed once at the COARSEST grain: the
      study→…→form chain hashes happen on the ~N lineitem rows
      *before* the per-row item emission, so items pay only their own
      item_id + cmd_id hashes.

    At 100 TB: the only wide operations left are the natural-key
    lineitem⋈orders equi-join and the form_seq window, both on
    l_orderkey — everything else is a projection.
    """
    from .commands import generate_commands_single_pass

    key = keyfn(flavor)
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    # --- subjects (customer grain): 2 chain hashes x |customer| ---
    subjects = (
        resolved_subjects(spark, sf_dir)
        .withColumn("study_id", key(NIL_UUID, [F.col("study_oid")]))
        .withColumn("subject_id", key(F.col("study_id"), [F.col("subject_key")]))
    )

    # --- study events (orders grain): subject rtx is a pure function of
    # o_custkey, so inheritance + pruning are row-local.  se_base keeps
    # o_orderkey so the lineitem join below can CARRY the id chain down
    # instead of recomputing it ---
    ok, customerk = F.col("o_orderkey"), F.col("o_custkey")
    # fan_out BEFORE the 3-hash id chain (guide §2.5 unsplittable-input
    # skew, r15): the single-row-group orders scan otherwise computes
    # 3x|orders| chain hashes in ONE task — 1.5 s serial on the
    # flagship's critical path (it feeds the broadcast build AND the
    # study-event union arm).  Gated: inert once the scan has >= session
    # parallelism partitions (any real-scale table).
    se_base = (
        fan_out(
            orders.select(
                "o_orderkey",
                F.lit(FILE_OID).alias("file_oid"),
                study_oid_col(customerk).alias("study_oid"),
                subject_key_col(customerk).alias("subject_key"),
                se_oid_col(ok).alias("study_event_oid"),
                _se_tx(ok).alias("tx_type"),
                _subj_rtx(customerk).alias("subj_rtx"),
            )
        )
        .where(F.col("subj_rtx") != "remove")
        .withColumn("rtx", F.coalesce(F.col("tx_type"), F.col("subj_rtx")))
        .drop("subj_rtx")
        .withColumn("study_id", key(NIL_UUID, [F.col("study_oid")]))
        .withColumn("subject_id", key(F.col("study_id"), [F.col("subject_key")]))
        .withColumn("study_event_id", key(F.col("subject_id"), [F.col("study_event_oid")]))
        .drop("study_id")
    )
    se = se_base.drop("o_orderkey")

    # --- lineitem base: the one equi-join (natural key) + form_seq
    # window.  The ancestor path, rtx, and the study→…→study_event id
    # chain ride in FROM THE ORDERS SIDE of the join (150k-grain, r5 —
    # previously the 3 chain hashes re-ran per 600k lineitem row), so
    # the lineitem grain pays only its own form hash ---
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )
    lk, ln = F.col("l_orderkey"), F.col("l_linenumber")
    se_keep = se_base.where(F.col("rtx") != "remove").select(
        "o_orderkey",
        "file_oid",
        "study_oid",
        "subject_key",
        "study_event_oid",
        F.col("rtx").alias("se_rtx"),
        "study_event_id",
    )
    # window FIRST over the narrow lineitem rows (the sort never touches
    # the carried path/id strings), then the equi-join — the window's
    # l_orderkey exchange doubles as the join-side distribution
    li_seq = lineitem.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    ).withColumn("form_seq", F.row_number().over(w))
    # the NARROW form-grain frontier: path + ids + resolved tx + one
    # canonical value column per EAV attribute
    denorm = (
        li_seq.join(se_keep, li_seq.l_orderkey == se_keep.o_orderkey)
        .withColumn("form_rtx", F.coalesce(_form_tx(lk, ln), F.col("se_rtx")))
        .withColumn("form_oid", form_oid_col(F.col("form_seq")))
        .withColumn("form_id", key(F.col("study_event_id"), [F.col("form_oid")]))
        .select(
            "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid",
            "form_rtx", "study_event_id", "form_id",
            *[canon_col(src, dtype).alias(f"val_{oid}") for oid, dtype, src in ITEM_ATTRS],
        )
    )
    return generate_commands_single_pass(
        subjects, se, denorm, batch_cmd_id, sub,
        item_attrs=[(oid, dtype) for oid, dtype, _ in ITEM_ATTRS],
        flavor=flavor,
    )


# ---------------------------------------------------------------------------
# Nested representation + explode path (reference A9)
# ---------------------------------------------------------------------------

def nest(odm: OdmTables) -> DataFrame:
    """Collapse the normalized levels into one nested row per file
    (array-of-struct columns) — the shape an ODM XML file parses into."""
    items_n = odm.items.groupBy(
        "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid", "item_group_oid"
    ).agg(
        F.collect_list(F.struct("item_oid", "tx_type", "data_type", "value_canon")).alias("items")
    )
    igs_n = (
        odm.item_groups.join(
            items_n,
            ["file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid", "item_group_oid"],
            "left",
        )
        .groupBy("file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid")
        .agg(F.collect_list(F.struct("item_group_oid", "tx_type", "items")).alias("item_groups"))
    )
    forms_n = (
        odm.forms.join(
            igs_n, ["file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid"], "left"
        )
        .groupBy("file_oid", "study_oid", "subject_key", "study_event_oid")
        .agg(F.collect_list(F.struct("form_oid", "tx_type", "item_groups")).alias("forms"))
    )
    ses_n = (
        odm.study_events.join(forms_n, ["file_oid", "study_oid", "subject_key", "study_event_oid"], "left")
        .groupBy("file_oid", "study_oid", "subject_key")
        .agg(F.collect_list(F.struct("study_event_oid", "tx_type", "forms")).alias("study_events"))
    )
    subs_n = (
        odm.subjects.join(ses_n, ["file_oid", "study_oid", "subject_key"], "left")
        .groupBy("file_oid", "study_oid")
        .agg(F.collect_list(F.struct("subject_key", "tx_type", "study_events")).alias("subjects"))
    )
    studies_n = subs_n.groupBy("file_oid").agg(
        F.collect_list(F.struct("study_oid", "subjects")).alias("clinical_data")
    )
    return odm.files.join(studies_n, "file_oid", "left")


def normalize(nested: DataFrame) -> OdmTables:
    """Explode a nested ODM file DataFrame back into the six levels —
    the Spark form of the reference's 5-deep async fan-out (A9)."""
    files = nested.select("file_oid", "file_type", "batch_cmd_id", "sub")
    studies = nested.select(
        "file_oid", F.explode("clinical_data").alias("study")
    ).select("file_oid", F.col("study.study_oid").alias("study_oid"), F.col("study.subjects").alias("subjects"))
    subjects_x = studies.select(
        "file_oid", "study_oid", F.explode("subjects").alias("s")
    ).select(
        "file_oid",
        "study_oid",
        F.col("s.subject_key").alias("subject_key"),
        F.col("s.tx_type").alias("tx_type"),
        F.col("s.study_events").alias("study_events"),
    )
    subjects = subjects_x.drop("study_events")
    ses_x = subjects_x.select(
        "file_oid", "study_oid", "subject_key", F.explode_outer("study_events").alias("se")
    ).select(
        "file_oid",
        "study_oid",
        "subject_key",
        F.col("se.study_event_oid").alias("study_event_oid"),
        F.col("se.tx_type").alias("tx_type"),
        F.col("se.forms").alias("forms"),
    ).where(F.col("study_event_oid").isNotNull())
    study_events = ses_x.drop("forms")
    forms_x = ses_x.select(
        "file_oid", "study_oid", "subject_key", "study_event_oid", F.explode_outer("forms").alias("f")
    ).select(
        "file_oid",
        "study_oid",
        "subject_key",
        "study_event_oid",
        F.col("f.form_oid").alias("form_oid"),
        F.col("f.tx_type").alias("tx_type"),
        F.col("f.item_groups").alias("item_groups"),
    ).where(F.col("form_oid").isNotNull())
    forms = forms_x.drop("item_groups")
    igs_x = forms_x.select(
        "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid",
        F.explode_outer("item_groups").alias("g"),
    ).select(
        "file_oid",
        "study_oid",
        "subject_key",
        "study_event_oid",
        "form_oid",
        F.col("g.item_group_oid").alias("item_group_oid"),
        F.col("g.tx_type").alias("tx_type"),
        F.col("g.items").alias("items"),
    ).where(F.col("item_group_oid").isNotNull())
    item_groups = igs_x.drop("items")
    items = igs_x.select(
        "file_oid", "study_oid", "subject_key", "study_event_oid", "form_oid", "item_group_oid",
        F.explode_outer("items").alias("i"),
    ).select(
        "file_oid",
        "study_oid",
        "subject_key",
        "study_event_oid",
        "form_oid",
        "item_group_oid",
        F.col("i.item_oid").alias("item_oid"),
        F.col("i.tx_type").alias("tx_type"),
        F.col("i.data_type").alias("data_type"),
        F.col("i.value_canon").alias("value_canon"),
    ).where(F.col("item_oid").isNotNull())
    return OdmTables(files, subjects, study_events, forms, item_groups, items)
