"""Parquet table loaders for the driver-generated testdata.

The source layer of the engine (reference A1: Redis blob source,
``src/lens/file_storage.clj:12-17``).  Here the at-rest format is
columnar parquet: scans get predicate pushdown + column pruning from
Catalyst for free, which is the 100 TB-scale replacement for the
reference's "fetch one blob, parse it all" model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import ENGINE_CONFS

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# the runtime-settable SQL subset of session.ENGINE_CONFS the engine
# depends on (master and memory cannot change on a live session)
_RUNTIME_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.adaptive.enabled",
)


def ensure_engine_confs(spark: SparkSession) -> None:
    """Make any externally-provided SparkSession safe for this engine
    (the driver constructs its own session) by re-asserting
    ``_RUNTIME_CONFS`` at their ``session.ENGINE_CONFS`` values:

    - UTC session timezone: parquet timestamps must mean the same
      instant as in the DuckDB oracle (naive-UTC), or every epoch
      canonicalization skews by the local offset.
    - nanosAsLong: kept defensively — if the testdata ever ships
      TIMESTAMP(NANOS) again (as it did through round 2), Spark reads
      it as int64 instead of refusing (PARQUET_TYPE_ILLEGAL), and
      ``load_events`` takes its integral fast-path.  The current
      testdata is TIMESTAMP(MICROS, isAdjustedToUTC=false), on which
      this conf is a no-op.
    """
    for key in _RUNTIME_CONFS:
        spark.conf.set(key, ENGINE_CONFS[key])


# Session-scoped source-relation memo (r14-opt, guide §6 "file
# listing"): every `spark.read.parquet(path)` call re-lists the path
# and re-reads a footer for schema inference, driver-side — measured
# 0.09 s per call here, and a pack builder like tpch_pack makes 57
# such calls (5.3 s of its 10 s build; the whole-suite builder phase
# repeats the same ten static tables hundreds of times).  At
# production scale the re-listing is far WORSE (thousands of files per
# table), which is why reusing the source DataFrame is the standard
# deployment pattern.  This is metadata/plan reuse only: the returned
# DataFrame is an immutable lazy plan over the (read-only) testdata —
# no rows are cached, every action still scans parquet.  Keyed by
# (applicationId, session identity, path): the applicationId so a
# restarted context never sees a stale relation (entries of dead
# applications are pruned on miss), the session identity because
# SparkSession.newSession() shares the applicationId — keyed by the app
# alone, two sibling sessions would evict each other's entry on every
# alternating call.  A dropped sibling's entries stay until the
# application ends (one lazy plan per table).
_RELATION_MEMO: dict[tuple[str, int, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one source table, memoized per (session, path).

    READ-ONLY CONTRACT (r15, VERDICT r14 #3): only the static source
    tables in :data:`TABLES` are memoized — the memo freezes the file
    listing (InMemoryFileIndex) at first read, so a path the engine
    also WRITES must never be served from it (stale listing / schema).
    A ``name`` outside ``TABLES`` gets a fresh ``spark.read.parquet``
    every call; engine-written live tables go through
    ``plans/merge._pinned_read`` instead.  Pinned by
    tests/test_contract.py::test_load_table_memoizes_source_tables_only.

    NB two calls for the same table return the IDENTICAL DataFrame
    object: a self-join must alias both sides
    (``a.alias("l").join(a.alias("r"), ...)``) or it raises the
    ambiguous-self-join AnalysisException — covered by the memo
    contract test's shared-lineage join path."""
    # ALWAYS re-assert confs, even on a memo hit — the contract is that
    # loading a table makes any externally-provided session safe
    # (tests/test_contract.py::test_engine_confs_reassert_on_load).
    ensure_engine_confs(spark)
    if name not in TABLES:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    app_id = spark.sparkContext.applicationId
    key = (app_id, id(spark), f"{sf_dir}/{name}.parquet")
    df = _RELATION_MEMO.get(key)
    # owning-session check on hit (ADVICE r14): a relation memoized
    # under one session must never be served to another (temp views
    # would land in the wrong catalog).  The identity key already
    # separates live sessions (each entry keeps its session alive, so
    # its id() cannot be reused); the check states that invariant.
    if df is None or df.sparkSession is not spark:
        for k in [k for k in list(_RELATION_MEMO) if k[0] != app_id]:
            # pop, not del: two driver threads can race the prune after
            # a context restart (ADVICE r14)
            _RELATION_MEMO.pop(k, None)
        df = spark.read.parquet(key[2])
        _RELATION_MEMO[key] = df
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition of an UNDER-PARALLEL scan whose
    downstream work is CPU-bound (per-row hashing, word explodes,
    array set ops, Arrow batches) — the guide §2.5 "input skew" fix
    for unsplittable inputs.

    The driver's testdata ships every table as ONE parquet row group,
    so a scan yields one non-empty partition regardless of split
    configuration (`minPartitionNum`/`openCostInBytes` only mint EMPTY
    extra splits — measured r14-opt: the whole `media_decode_stub`
    mapInPandas ran as 1 task, `dup_pairs_pack`'s 6.5 s pair-join
    stage as 2 tasks, on a 32-core host).  A keyless repartition to
    the session's default parallelism distributes the rows before the
    expensive expressions run.

    Scale contract: GATED on the frame's actual partition count, so at
    production scale (scans of thousands of splits) this is inert —
    the repartition only fires when the scan is narrower than the
    session's core count, which is exactly the under-parallel case.
    Deterministic under retries: keyless repartition sorts within
    input partitions first (`spark.sql.execution.sortBeforeRepartition`,
    on by default — SPARK-23207)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with the timestamp canonicalized to exact BIGINT epoch
    nanoseconds (``ts_ns``), schema-adaptively — the driver's testdata
    has shipped two different physical types for ``ts`` across rounds:

    - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current): Spark reads
      TIMESTAMP_NTZ, which cannot cast to BIGINT directly.  NTZ→TZ cast
      is instant-preserving under the UTC session timezone
      (``ensure_engine_confs``), so ``unix_micros(cast ts as timestamp)
      * 1000`` equals DuckDB ``epoch_ns(ts)`` bit-exactly.
    - TIMESTAMP(NANOS) (rounds 1-2): read as int64 under
      ``nanosAsLong`` — already epoch nanos, plain bigint cast.

    Both paths give the oracle's ``epoch_ns(ts)`` integers, so ordering
    and window math stay bit-exact against DuckDB."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = load_table(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, (T.LongType, T.IntegerType)):
        ts_ns = F.col("ts").cast("bigint")
    else:
        # TIMESTAMP or TIMESTAMP_NTZ (instant-preserving under UTC tz)
        ts_ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    return df.select(
        "event_id",
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )

