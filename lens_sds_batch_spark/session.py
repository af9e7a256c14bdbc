"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting is chosen to also be
sane on a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting)
  so a plan written at sf0.01 survives a 100x scale-up without re-tuning.
- ``spark.sql.session.timeZone=UTC`` — parquet timestamps must mean the
  same instant here and in the DuckDB oracle (naive-UTC).
- Arrow enabled for the few pandas-UDF paths (multimodal decode stubs).
- shuffle partitions default to the local core count; on a real cluster
  AQE coalesces from a deliberately high initial number instead.
"""

from __future__ import annotations

import logging
import os
import sys

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# apps whose one-time warm-up already ran or failed (get_spark is
# re-entrant: getOrCreate returns the live session, the warm-up must not
# re-run)
_WARMED: set[str] = set()

# degraded paths already reported by this process
_WARNED: set[str] = set()


def _warn_once(path: str, msg: str, *args) -> None:
    """Log a silent degraded path ONCE per process, with the traceback
    of the exception being handled: the run keeps going (slower, or on
    a fallback), and the log says so without repeating on every call."""
    if path in _WARNED:
        return
    _WARNED.add(path)
    _log.warning(msg, *args, exc_info=sys.exc_info()[0] is not None)


def _warm_session(spark: SparkSession) -> None:
    """One-time per-JVM warm-up at session build (r15, VERDICT r14 #7).
    Production-shaped: this runs for EVERY consumer of get_spark (tests,
    bench, streaming, tools), not in any timed query region — it moves
    two measured one-time costs out of whichever query happens to hit
    them first:

    - ICU collation class-init: the first collation-aware string
      expression pays ~1.5 s in CollationAwareUTF8String.<clinit>
      (caught via jstack inside ConstantFolding of a literal lower()).
      A folded lower() here loads it at session build.
    - Python-worker pool boot: the first Arrow/pandas-UDF stage pays
      ~1.6 s of worker daemon + import cost (media_decode_stub profile:
      1.95 s task run, 0.29 s CPU).  A trivial mapInPandas over
      defaultParallelism partitions preforks the reused workers
      (spark.python.worker.reuse is on by default).

    The prefork also reports which package the workers import: they
    import it from their working directory, which need not be the
    checkout the driver imported (a tool started outside its checkout's
    root would run driver code from one package and UDF code from
    another).  A worker that imports another copy, or none, is logged
    once; session construction goes on either way.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return
    _WARMED.add(app_id)
    try:
        spark.sql("select lower('Warm')").collect()  # folds at planning -> ICU init
        n = spark.sparkContext.defaultParallelism

        def worker_package(batches):
            import pandas as pd

            try:
                import lens_sds_batch_spark as pkg

                where = os.path.realpath(pkg.__file__)
            except Exception as e:
                where = f"no importable package ({type(e).__name__}: {e})"
            for _ in batches:
                pass
            yield pd.DataFrame({"where": [where]})

        # one row per worker partition
        seen = {
            r[0] for r in spark.range(n, numPartitions=n)
            .mapInPandas(worker_package, "where string").collect()
        }
    except Exception as e:
        # warm-up must never break session construction (e.g. a
        # pandas-less environment); the costs just land where they did.
        # The failure is terminal for this application: app_id stays in
        # _WARMED, so later get_spark calls do not pay the doomed
        # attempt (a failed job) again.
        _warn_once(
            "warm_session",
            "session warm-up failed (%s: %s); the one-time ICU and "
            "Python-worker costs land on the first query that needs them",
            type(e).__name__, e,
        )
        return
    here = os.path.realpath(sys.modules[__package__].__file__)
    if seen != {here}:
        _warn_once(
            "worker_package",
            "Spark's Python workers import %s, not the driver's %s: they "
            "import the package from their working directory; start the "
            "process from the root of the checkout it should run",
            ", ".join(sorted(seen)), here,
        )


# The engine's session confs, kept once: get_spark builds from them, and
# sources.parquet.ensure_engine_confs re-asserts the runtime SQL subset
# on sessions the engine did not build.
ENGINE_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Per-DataFrame-API-call Python stack inspection for error
    # call-site context costs ~15% of plan-construction wall-clock
    # (measured r6: 0.55s of a 2.9s flagship build in
    # errors.utils._capture_call_site); errors still carry the full
    # JVM context. Production-off is the documented intent of the
    # knob.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # defensive: if events.parquet ever carries TIMESTAMP(NANOS)
    # again (r1-2 testdata), read it as int64 instead of erroring;
    # no-op on the current TIMESTAMP(MICROS) files
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "lens-sds-batch-spark", cpus: int | None = None) -> SparkSession:
    """The engine's session: ENGINE_CONFS plus the launch-sized confs for
    ``local[cpus]`` (default: $SPARK_GRAFT_CPUS, else every core):
    master, one shuffle partition per core, driver memory from
    $SPARK_DRIVER_MEMORY.  Launch-only confs (event log, extra Java
    options) go in through ``PYSPARK_SUBMIT_ARGS``."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    confs = {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        **ENGINE_CONFS,
    }
    spark = SparkSession.builder.appName(app_name).config(map=confs).getOrCreate()
    _warm_session(spark)
    return spark


def local_df(spark: SparkSession, rows, schema: str):
    """Tiny literal DataFrame as a JVM ``LocalTableScan`` (one Arrow
    batch from pandas) instead of ``createDataFrame(list)`` — the list
    path parallelizes pickled rows over ``defaultParallelism``
    partitions and talks to a Python worker PER TASK on every
    materialization.  Measured (r14-opt): the 16-row centroid broadcast
    inside ``ivf_knn`` ran a 32-task stage whose threads sat in Python
    worker socket waits (~74 task-seconds, 0.5 s CPU); the Arrow form
    plans as ``LocalTableScan`` — zero tasks, zero Python workers, and
    a broadcast of it never schedules a job at all.

    Rows containing None fall back to the list path: pandas coerces
    None to NaN inside numeric columns, and the NaN→NULL story differs
    between the Arrow and pickle paths — the hot call sites (centroids,
    the 1-row ODM files frame) are None-free, and the fallback keeps
    the oddball cases byte-identical to the old behavior."""
    rows = list(rows)
    if any(v is None for r in rows for v in r):
        return spark.createDataFrame(rows, schema)
    try:
        import pandas as pd
        from pyspark.sql.types import StructType

        names = [f.name for f in StructType.fromDDL(schema).fields]
        pdf = pd.DataFrame.from_records(rows, columns=names)
        return spark.createDataFrame(pdf, schema)
    except Exception as e:
        _warn_once(
            "local_df",
            "local_df: the pandas/Arrow path failed (%s: %s); falling back "
            "to pickled rows, which run a Python-worker task per partition",
            type(e).__name__, e,
        )
        return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# localCheckpoint seam — audit-visible lineage
#
# localCheckpoint truncates lineage, which is exactly right in production
# (plan-dedupe for shared scans, bounded plans in iterative algorithms) but
# blinds tools/plan_audit.py: a checkpointed frame reports 0 scans and 0
# pushed filters precisely where the shared-scan optimizations live.  Every
# package localCheckpoint goes through local_ckpt(), the merge store's and
# the IVM refresh's included; plan_audit flips audit mode on:
#
# - lazy checkpoints (eager=False) are pure plan-caching — audit mode skips
#   them so the final plan shows the real scans/pruning/pushdown;
# - eager checkpoints materialize state the build depends on (convergence
#   loops block on Observation.get; funnel stages feed counts; a merge
#   batch is pinned so its touched-bucket set and the LWW union read the
#   same rows) — audit mode keeps them but records the pre-checkpoint
#   executed plan into a buffer that the audit folds into the query's
#   counted plan text.
# ---------------------------------------------------------------------------

_AUDIT_PLANS: list | None = None  # None = production mode


def audit_checkpoints(on: bool = True) -> None:
    """Enable/disable audit mode for local_ckpt (tools/plan_audit.py)."""
    global _AUDIT_PLANS
    _AUDIT_PLANS = [] if on else None


def drain_audit_plans() -> list:
    """Return and clear origin plans recorded since the last drain."""
    global _AUDIT_PLANS
    if _AUDIT_PLANS is None:
        return []
    out, _AUDIT_PLANS = _AUDIT_PLANS, []
    return out


def local_ckpt(df, eager: bool = True):
    """df.localCheckpoint(eager) with an audit-mode escape hatch."""
    if _AUDIT_PLANS is None:
        return df.localCheckpoint(eager=eager)
    if not eager:
        return df
    _AUDIT_PLANS.append(df._jdf.queryExecution().executedPlan().toString())
    return df.localCheckpoint(eager=True)


def release_ckpt(df) -> None:
    """Best-effort release of an eager local_ckpt's storage blocks
    (ADVICE r11): ``DataFrame.unpersist()`` only uncaches
    InMemoryRelation entries, NOT the checkpointed RDD behind the plan's
    LogicalRDD, so a fast-trigger streaming sink would transiently
    accumulate blocks until the ContextCleaner GCs the frame.  Reaching
    the LogicalRDD's rdd is internal API (verified to free the blocks on
    this Spark build) — guarded, with the ContextCleaner as fallback."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
