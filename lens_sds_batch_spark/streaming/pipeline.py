"""Structured Streaming flavor of the engine (reference B9 semantics).

The reference's delivery contract is at-least-once (AMQP ack/reject +
requeue, ``broker.clj:87-95``) made *effectively exactly-once* by
deterministic command ids — re-delivery regenerates identical ids and
downstream dedupes.  The Structured Streaming restatement:

    readStream → withWatermark → dropDuplicates([id]) → windowed aggs
    → foreachBatch LWW-merge sink

- ``dropDuplicates`` on the deterministic id + watermark = the idempotent
  replay contract (bounded state).
- tumbling/sliding window aggs land late data correctly up to the
  watermark horizon.
- ``foreachBatch`` applies the LWW merge (plans/merge.py) transactionally
  per micro-batch.

Tests drive these with a file source + memory sink (synchronous
``processAllAvailable``), the standard local-smoke harness.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"


def _canonicalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to a session-TZ TIMESTAMP regardless
    of the at-rest physical type.  The driver's events.parquet has
    shipped three types across rounds — TIMESTAMP(NANOS) (read as int64
    epoch nanos under ``nanosAsLong``), TIMESTAMP_NTZ (current), and
    plain TIMESTAMP — and pinning one of them in a DDL schema is the
    drift class that erased round 3 (see ``sources/parquet.load_events``,
    the batch twin of this function).  Under the UTC session timezone
    (``ensure_engine_confs``) every branch is instant-preserving, so the
    watermark/window math downstream sees identical instants either way.
    """
    from pyspark.sql import types as T

    if "ts" not in df.columns:
        return df
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, (T.LongType, T.IntegerType)):
        ts = F.expr("timestamp_micros(cast(ts as bigint) div 1000)")
    elif isinstance(ts_type, T.TimestampNTZType):
        ts = F.col("ts").cast("timestamp")
    else:
        return df
    return df.withColumn("ts", ts)


def read_event_stream(
    spark,
    path: str | None = None,
    max_files_per_trigger: int | None = None,
    *,
    source_format: str = "files",
    kafka_options: dict | None = None,
    include_malformed: bool = False,
) -> DataFrame:
    """Streaming source factory (reference A4/A5 transport seam).

    - ``source_format="files"`` (default): parquet-directory stream —
      the sandbox/test transport; ``maxFilesPerTrigger`` is the
      prefetch-analog backpressure knob (A25, reference ``:prefetch``).
      The directory must exist; an empty one streams on the pinned
      EVENTS_SCHEMA (logged once per process).
    - ``source_format="kafka"``: the prod transport the reference's
      AMQP exchange maps to (``broker.clj:157-170`` binds queues to the
      ``lens-sds.commands`` exchange; here the topic + consumer group
      come in via ``kafka_options``, e.g. ``{"kafka.bootstrap.servers":
      ..., "subscribe": "lens-sds.commands", "maxOffsetsPerTrigger":
      ...}``).  The record value is JSON of EVENTS_SCHEMA.  Switching
      transports is a config change, not a rewrite — every downstream
      operator sees the same schema.

    The sandbox has no broker, so only the file path is exercised by
    tests; the kafka branch is the documented drop-in.
    """
    from ..sources.parquet import ensure_engine_confs

    ensure_engine_confs(spark)
    if source_format == "files":
        if path is None:
            raise ValueError("source_format='files' requires a path")
        if kafka_options is not None:
            raise ValueError(
                "kafka_options is a kafka-source knob; for files use max_files_per_trigger"
            )
        if include_malformed:
            raise ValueError(
                "include_malformed is a kafka-source knob (parquet rows are "
                "typed at rest — there is no malformed-value parse to surface)"
            )
        # FileStreamSource pins basePath to the literal (non-glob) path,
        # and basePath must be a DIRECTORY — so a single at-rest file
        # (the driver's events.parquet) needs glob-ifying: `{name}` is a
        # one-member glob, which keeps the override off and anchors the
        # implied basePath at the parent directory instead.  Glob
        # metachars in the basename are backslash-escaped first, or a
        # name like ``events[v2].parquet`` silently becomes a character
        # class matching nothing (an empty stream, no error).  The schema
        # probe below reads the same resolved path.
        if os.path.isfile(path):
            # abspath FIRST (r11 review): a bare relative filename has
            # dirname "" and the f-string would build "/{name}" — a
            # root-anchored glob matching nothing, i.e. a silently
            # EMPTY stream; the JVM would resolve it against its own cwd
            path = os.path.abspath(path)
            escaped = re.sub(r"([\\*?\[\]{},])", r"\\\1", os.path.basename(path))
            path = f"{os.path.dirname(path)}/{{{escaped}}}"
        # Schema-ADAPTIVELY from the at-rest footers (cheap batch metadata
        # read), not a pinned DDL: the driver's events parquet has changed
        # ts physical type across rounds (NANOS -> NTZ), and a pinned
        # `ts timestamp` mis-declares NTZ data (the round-3 failure
        # class).  The stream dir must exist (readStream refuses a
        # missing one, so the probe re-raises PATH_NOT_FOUND without
        # spending the warning below).  Fall back to EVENTS_SCHEMA only
        # for an EMPTY dir (a stream dir seeded later) — and LOUDLY: a
        # broad silent except here would reinstate the exact drift class
        # this probe exists to prevent (a corrupt footer or transient FS
        # error would quietly re-pin the DDL schema).
        from pyspark.errors import AnalysisException

        try:
            at_rest = spark.read.parquet(path).schema
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                raise
            from ..session import _warn_once

            _warn_once(
                "read_event_stream",
                "read_event_stream: schema probe of %r failed (%s); falling "
                "back to the pinned EVENTS_SCHEMA — ts-type drift is NOT "
                "protected for this stream",
                path, type(e).__name__,
            )
            at_rest = EVENTS_SCHEMA
        # The requeue feedback edge (requeue_sink pointed at this
        # stream's OWN source dir) appends rows carrying an ``attempts``
        # column.  A file stream pins ONE schema for its whole life —
        # if the at-rest seed data lacks ``attempts``, the probed schema
        # would silently DROP the column from every redelivered file,
        # resetting attempts to 0 on each redelivery so ``max_attempts``
        # never binds (infinite requeue livelock; r8 continuation
        # review).  Declaring it up front costs nothing: files without
        # the column read it as NULL, which requeue_sink already
        # coalesces to 0.
        from pyspark.sql.types import IntegerType, StructField, StructType

        if isinstance(at_rest, str):
            # The schema-probe fallback leaves a DDL STRING (an empty
            # dir — the 'seeded later' case, which is exactly the natural
            # requeue-loop setup).  An isinstance(StructType) guard alone
            # would skip the injection there and reinstate the livelock
            # (r8 advisor finding): parse the DDL first so both paths get
            # the column.
            at_rest = StructType.fromDDL(at_rest)
        if "attempts" not in at_rest.fieldNames():
            at_rest = StructType(
                list(at_rest.fields) + [StructField("attempts", IntegerType(), True)]
            )
        reader = spark.readStream.schema(at_rest).option(
            "maxFilesPerTrigger", 1 if max_files_per_trigger is None else max_files_per_trigger
        )
        return _canonicalize_event_ts(reader.parquet(path))
    if source_format == "kafka":
        if path is not None:
            raise ValueError(
                "path is a file-source knob; for kafka pass the topic via "
                "kafka_options={'subscribe': ...} (a silently ignored path "
                "would hide a misconfiguration)"
            )
        if max_files_per_trigger is not None:
            raise ValueError(
                "max_files_per_trigger is a file-source knob; for kafka use "
                "kafka_options={'maxOffsetsPerTrigger': ...}"
            )
        reader = spark.readStream.format("kafka")
        for k, v in (kafka_options or {}).items():
            reader = reader.option(k, v)
        parsed = parse_event_records(reader.load())
        if include_malformed:
            # full A22 3-way seam: the caller routes through requeue_sink
            # (is_ok = ~_malformed, is_retryable = False) so malformed
            # record values land in the dead-letter output, counted —
            # never silently dropped (reference broker.clj:65-95).
            return parsed
        return parsed.where(~F.col("_malformed")).drop("_raw_value", "_malformed", "attempts")
    raise ValueError(f"unknown source_format: {source_format!r} (expected 'files' or 'kafka')")


def parse_event_records(records: DataFrame) -> DataFrame:
    """Kafka record values (JSON of EVENTS_SCHEMA) → typed event columns
    plus the dead-letter bookkeeping the A22 contract needs:

    - ``_malformed``: True when the value failed to parse as an event —
      EITHER the required ``event_id`` field is NULL (unparseable JSON,
      NULL tombstone values, schema-valid JSON missing the id), OR the
      PERMISSIVE-mode corrupt-record column is populated: a record that
      IS valid JSON and HAS an event_id but whose other fields fail
      type coercion (e.g. ``"value": "abc"``) would otherwise pass with
      silently-nulled fields instead of dead-lettering.
    - ``_raw_value``: the original record value, preserved so the
      dead-letter output carries the evidence (a parsed all-NULL row is
      undebuggable).
    - ``attempts``: seeded 0, the requeue_sink routing contract.

    Parse failure is FATAL, not retryable — re-delivering bytes that
    don't parse can never succeed, so route with ``is_ok =
    ~_malformed``, ``is_retryable = lit(False)`` and malformed records
    go straight to the dead output, counted (see ``requeue_sink``'s
    ``metrics``)."""
    parse_schema = EVENTS_SCHEMA + ", _corrupt string"
    # expand e.* and drop the corrupt column AFTER deriving the flag —
    # never derive field names by string-splitting the DDL (a future
    # decimal(10,2) or struct field would split inside its parentheses)
    expanded = records.select(
        F.from_json(
            F.col("value").cast("string"),
            parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("e"),
        F.col("value").cast("string").alias("_raw_value"),
    ).select("e.*", "_raw_value")
    return expanded.select(
        *[c for c in expanded.columns if c not in ("_corrupt", "_raw_value")],
        "_raw_value",
        (F.col("event_id").isNull() | F.col("_corrupt").isNotNull()).alias("_malformed"),
        F.lit(0).alias("attempts"),
    )


def dedupe_stream(events: DataFrame, id_col: str = "event_id", watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-effect: drop replayed ids within the watermark
    horizon.  ``dropDuplicatesWithinWatermark`` (PySpark 4.x) EVICTS a
    key's state once the watermark passes its event time — plain
    ``dropDuplicates([id])`` would keep every id forever, which is
    correct but unbounded; this form makes the B9 bounded-state claim
    true (replays of the same id are only possible within the
    at-least-once redelivery horizon, which is what the watermark
    models)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([id_col])


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = "1 hour",
) -> DataFrame:
    """Tumbling (or sliding) event-time window aggregation.

    Pass ``watermark=None`` when the input stream already carries one
    (e.g. after dedupe_stream) — redefining is disallowed."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming DataFrame to completion against the in-memory
    sink (local smoke harness); returns the query handle."""
    q = df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    return q


class DurableMetrics:
    """A dict-compatible metrics store for :func:`requeue_sink` that
    SURVIVES DRIVER RESTARTS (closes the in-memory-dict limitation
    documented in the sink): state lives in a JSON file, written
    atomically (tmp + ``os.replace``) exactly when a
    ``"_last_epoch:…"`` key is stored.

    Why that trigger makes the persistence transactional: the sink's
    documented invariant is *counters first, epoch key last, plain
    stores in between* — so flushing on the epoch-key store captures
    the fully-applied batch in ONE atomic rename.  Crash before the
    epoch-key store → the file still holds the pre-batch state and the
    checkpoint-replayed epoch re-tallies from that base (no double
    count); crash after → the file holds the post-batch state AND the
    epoch key, so replay is skipped.  A fresh ``DurableMetrics(path)``
    after restart reloads whichever of those two consistent states the
    crash left.

    A StreamingQueryListener was considered and rejected for this:
    progress events carry source/sink row counts, not this sink's
    three-way ROUTING split — the counts exist only inside
    foreachBatch, so durability belongs at the metrics seam, not the
    listener.  (A listener remains the right EXPORT path to external
    monitoring; it would read this store.)

    Local paths only (the JSON lives on the driver, like the
    checkpoint dir's metadata on a real deploy this would be the
    checkpoint filesystem).

    Thread-safe (r8 review): multiple sinks legitimately SHARE one
    instance (the namespaced epoch keys exist for exactly that), and
    each streaming query's foreachBatch runs on its own thread — so
    every mutation/flush holds one lock.  Without it, sink A's flush
    could snapshot sink B's counters mid-batch (half-applied counters
    without B's epoch key = the double-count hole this class closes),
    and ``json.dump`` over a dict another thread is inserting into
    raises outright.  NB the lock serializes the two sinks' TALLY
    blocks only, not their Spark jobs — contention is microseconds
    per trigger.
    """

    def __init__(self, path: str):
        import json
        import os
        import threading

        self._path = path
        self._lock = threading.RLock()
        self._d: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                self._d = json.load(f)

    def flush(self) -> None:
        import json
        import os

        with self._lock:
            tmp = self._path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._d, f)
            os.replace(tmp, self._path)

    def add_counts(self, counts: dict, epoch_key: str, epoch_id) -> None:
        """One sink's whole epoch tally as a single atomic unit:
        increment the (SHARED, un-namespaced) counters, record the
        sink's epoch key, flush — all under the lock.  This is the
        path :func:`requeue_sink` uses; per-key stores from two sinks
        would interleave (a flush between sink B's counter stores and
        its epoch-key store snapshots half-applied state, and
        concurrent read-modify-write on the shared counters drops
        increments)."""
        with self._lock:
            for k, v in counts.items():
                self._d[k] = self._d.get(k, 0) + v
            self._d[epoch_key] = epoch_id
            self.flush()

    def __setitem__(self, key, value) -> None:
        with self._lock:
            self._d[key] = value
            if isinstance(key, str) and key.startswith("_last_epoch:"):
                self.flush()

    def __getitem__(self, key):
        with self._lock:
            return self._d[key]

    def get(self, key, default=None):
        with self._lock:
            return self._d.get(key, default)

    def __contains__(self, key) -> bool:
        with self._lock:
            return key in self._d

    def __iter__(self):
        return iter(self.as_dict())

    def __len__(self) -> int:
        with self._lock:
            return len(self._d)

    def as_dict(self) -> dict:
        with self._lock:
            return dict(self._d)


def _decanonicalize_requeue_ts(requeue: "DataFrame", requeue_dir: str, cache: dict):
    """Inverse of :func:`_canonicalize_event_ts` for the FEEDBACK edge
    (r11 review): ``read_event_stream`` pins the at-rest ``ts`` type for
    the stream's whole life but hands the sink CANONICALIZED rows
    (session-TZ TIMESTAMP).  Appending those into the stream's own
    source dir would write a ts whose parquet type differs from the
    pinned schema — an NTZ-seeded stream dies with a vectorized-reader
    type error on the first redelivery, and a nanos-long seed re-reads
    the micros value as nanos and divides by 1000 AGAIN (timestamps
    1000x off).  So redelivered rows cast ``ts`` back to the at-rest
    type probed from the requeue dir (once, cached): LongType → epoch
    nanos (micros * 1000 — the first delivery already quantized to
    micros, so the round trip is stable), NTZ → timestamp_ntz
    (instant-preserving under the UTC session), TIMESTAMP → no-op.  A
    missing/empty dir probes as None: the stream schema then came from
    the EVENTS_SCHEMA fallback (plain TIMESTAMP), which canonical rows
    already match.  Any other probe failure (a corrupt footer) raises."""
    if "ts" not in requeue.columns:
        return requeue
    if "type" not in cache:
        from pyspark.errors import AnalysisException

        try:
            at_rest = (
                requeue.sparkSession.read.parquet(requeue_dir).schema["ts"].dataType
            )
        except AnalysisException:  # dir absent/empty: pinned schema was the fallback
            at_rest = None
        cache["type"] = at_rest
    at_rest = cache["type"]
    from pyspark.sql import types as T

    if isinstance(at_rest, (T.LongType, T.IntegerType)):
        return requeue.withColumn("ts", F.expr("unix_micros(ts) * 1000"))
    if isinstance(at_rest, T.TimestampNTZType):
        return requeue.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return requeue


def requeue_sink(
    out_dir: str,
    dead_dir: str,
    requeue_dir: str,
    is_ok,
    is_retryable,
    max_attempts: int = 3,
    metrics: dict | None = None,
    ok_drop_cols: tuple = (),
):
    """The reference's nack+requeue loop (``broker.clj:87-95``) as a
    file-source FEEDBACK EDGE: a foreachBatch sink that routes each row

    - success (``is_ok``)                 → ``out_dir``   (the ack path)
    - retryable failure, attempts left    → ``requeue_dir`` with
      ``attempts + 1`` — point this at the STREAM'S OWN SOURCE
      directory and the file source redelivers it in a later trigger,
      which is exactly AMQP basic.reject(requeue=true)
    - fatal, or retry budget exhausted    → ``dead_dir``

    ``is_ok`` / ``is_retryable`` are Column predicates and may read the
    ``attempts`` column (rows must carry ``attempts``; seed with 0 —
    when composing with :func:`read_event_stream`'s feedback edge, seed
    with ``coalesce(attempts, 0)`` rather than a plain ``lit(0)``: the
    source schema carries ``attempts`` (NULL for never-requeued files),
    and an unconditional overwrite would reset every redelivery's count
    back to 0, so ``max_attempts`` never binds).
    NULL predicate results (e.g. a predicate over a nullable column)
    are normalized to False, and NULL ``attempts`` to 0, so every row
    lands in EXACTLY one of the three outputs — ``where(p)`` and
    ``where(~p)`` would both drop a NULL row, silently losing it
    (routing totality pinned by test_requeue_null_routing_total).
    Deterministic ids keep redelivery idempotent downstream, the same
    argument the reference makes for its at-least-once delivery.

    ``ok_drop_cols``: columns stripped from the SUCCESS output only —
    routing bookkeeping (e.g. the kafka seam's ``_raw_value`` /
    ``_malformed``) must not leak into the ack path's schema, which
    downstream consumers expect to match the plain-source schema; the
    requeue and dead outputs keep every column (the dead-letter
    evidence IS the bookkeeping).

    ``metrics``: pass a dict and the sink accumulates routed-row counts
    into ``ok`` / ``requeued`` / ``dead`` across triggers — the A22
    observability hook (dead-lettered rows are COUNTED, not silently
    absorbed; the reference logs each reject at ``broker.clj:90``).
    Counting costs one extra action per output per trigger, so it is
    opt-in; production deploys export these through the streaming query
    listener instead.  foreachBatch is AT-LEAST-ONCE: on failure/restart
    Spark re-invokes the sink with the SAME epoch_id, so counts for an
    epoch already tallied are skipped rather than double-counted.  The
    last-seen epoch lives in the metrics dict under a key NAMESPACED BY
    ``out_dir`` (``"_last_epoch:<out_dir>"``): dict-resident so the
    guard survives the restart-rebuilds-the-sink pattern (a fresh
    closure would re-count the replayed epoch), namespaced so two
    sinks sharing one dict cannot suppress each other on an epoch-id
    collision.  Replay only ever re-runs the most recent epoch, so one
    id per sink bounds the bookkeeping (NB the guard identifies an
    epoch by ID ONLY, so a DurableMetrics file must live and die with
    its checkpoint: wiping the checkpoint while keeping the metrics
    file makes the fresh run's epoch 0 collide with the stored one and
    its first batch goes uncounted — r11 review); underscore-prefixed
    keys are
    bookkeeping, not counts.  The counts are tallied into locals and
    applied together with the epoch key (plain dict stores, nothing
    fallible in between), so a count() failure mid-tally followed by
    replay cannot double-count.  A plain in-memory dict does NOT
    survive a DRIVER restart (the checkpoint-replayed epoch then
    re-counts once); pass a :class:`DurableMetrics` instead — it
    persists atomically on exactly the epoch-key store, riding the
    counters-first/epoch-key-last invariant above, so restarts resume
    from a consistent tally (r8, closes the r7 limitation).  (The
    parquet appends themselves can still duplicate on replay; that is
    the documented at-least-once file-sink contract, made harmless
    downstream by deterministic ids + LWW merge.)
    """
    from pyspark.sql import functions as F

    epoch_key = f"_last_epoch:{out_dir}"  # see docstring: dict-resident + namespaced
    ts_cache: dict = {}  # at-rest ts type of requeue_dir, probed once

    def sink(batch_df, epoch_id):
        # attempts is seeded with 0 by contract, but a NULL must not make
        # the routing predicates non-total (NULL att+1<max and NULL
        # att+1>=max would BOTH drop the row — silently lost)
        att = F.coalesce(F.col("attempts"), F.lit(0))
        ok = F.coalesce(is_ok.cast("boolean"), F.lit(False))
        retryable = F.coalesce(is_retryable.cast("boolean"), F.lit(False))
        # When counting is on for this epoch, count ONCE up front and
        # reuse the counts as the empty-append guards — the old
        # isEmpty()+count() pairing ran six probe jobs per trigger on
        # the hot foreachBatch path instead of three (r11 review).
        counting = metrics is not None and metrics.get(epoch_key) != epoch_id
        batch_df.persist()
        try:
            okdf = batch_df.where(ok).drop(*ok_drop_cols)
            failed = batch_df.where(~ok)
            requeue = failed.where(retryable & (att + 1 < max_attempts)).withColumn(
                "attempts", att + 1
            )
            dead = failed.where((~retryable) | (att + 1 >= max_attempts))
            if counting:
                n_ok, n_req, n_dead = okdf.count(), requeue.count(), dead.count()
                ok_nonempty, req_nonempty, dead_nonempty = (
                    n_ok > 0, n_req > 0, n_dead > 0
                )
            else:
                ok_nonempty = not okdf.isEmpty()
                req_nonempty = not requeue.isEmpty()
                dead_nonempty = not dead.isEmpty()
            # empty-append guards: an all-failure trigger must not leave
            # a zero-row part file in the ack dir every few seconds, and
            # since requeue_dir is the stream's own source an empty
            # feedback file would arm another trigger, whose empty
            # append arms another — the query never quiesces
            if ok_nonempty:
                okdf.write.mode("append").parquet(out_dir)
            if req_nonempty:
                # one file per trigger keeps the feedback dir tidy
                requeued = _decanonicalize_requeue_ts(requeue, requeue_dir, ts_cache)
                requeued.coalesce(1).write.mode("append").parquet(requeue_dir)
            if dead_nonempty:
                dead.write.mode("append").parquet(dead_dir)
            if counting:
                # Counts were tallied into locals BEFORE the writes; they
                # are applied together with the epoch key as one
                # uninterruptible block AFTER the writes succeed, so a
                # failure anywhere above leaves NO counter moved and
                # Spark's replay of the same epoch re-counts from the
                # same base.  (The epoch check is single-writer — the key
                # is namespaced to THIS sink.)
                counts = {"ok": n_ok, "requeued": n_req, "dead": n_dead}
                add = getattr(metrics, "add_counts", None)
                if add is not None:
                    # DurableMetrics: whole tally under one lock+flush —
                    # safe when several sinks share the instance across
                    # streaming threads (r8 review)
                    add(counts, epoch_key, epoch_id)
                else:
                    # plain dict: per-op GIL atomicity only; fine for the
                    # single-sink / same-thread uses it serves
                    for key, n in counts.items():
                        metrics[key] = metrics.get(key, 0) + n
                    metrics[epoch_key] = epoch_id
        finally:
            batch_df.unpersist()

    return sink


def ivf_assign_stream(vecs: DataFrame, centers: list[list[float]], vec_col: str = "v") -> DataFrame:
    """Streaming twin of the IVF index's cell assignment (B11 /
    VERDICT r6 #8): the coarse quantizer is FIT in batch (bounded-
    sample KMeans, ``operators.similarity.ivf_knn``), and arriving
    vectors are ASSIGNED to their inverted-file cell on the stream.

    Because :func:`operators.similarity.assign_cells` is a pure
    stateless per-row projection (argmin-Euclidean over a K×dim
    driver-literal center list — no model object, no state), the SAME
    code path serves batch and streaming; this wrapper exists so the
    streaming surface is discoverable next to the other B9/B11 twins.
    No watermark, no foreachBatch, append-mode safe — the cheapest
    possible streaming operator shape.  Parity is pinned by
    tests/test_streaming.py::test_ivf_assign_stream_equals_batch.

    Invalid vectors (NULL / empty / zero-norm / NULL-element) are
    EXCLUDED before assignment — the same FAISS policy the batch index
    applies (r11 review: the raise-on-NULL guard inside assign_cells
    exists for RAGGED DIMS; inheriting it for NULL rows would let one
    corrupt record kill the whole streaming query while the batch path
    just drops it)."""
    from ..operators.similarity import assign_cells, valid_vec

    return assign_cells(vecs.where(valid_vec(F.col(vec_col))), centers, vec_col)


def session_windows_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming twin of the batch ``session_window_agg`` (B9): built-in
    ``session_window`` over event time.  Sessions stay open (state) and
    MERGE while events inside the gap keep arriving; a session closes —
    and in append mode emits exactly once — when the watermark passes
    its end + gap.  State is one (start, end, count) per open session
    per user, bounded by the watermark horizon.

    Same schema as the batch op so the two can be compared row-for-row
    (tests/test_streaming.py::test_session_windows_stream_equals_batch).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )


def correlate_join_stream(
    commands: DataFrame,
    events: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INTERVAL join (B9): each in-flight command
    (``cmd_id``, ``cmd_ts``) matches events (``cid``, ``ts``, ``name``)
    arriving within ``[cmd_ts, cmd_ts + horizon]`` — the join-shaped
    twin of the reference's await-reply correlation (``broker.clj:
    102-117``: a promise per command fulfilled by a matching event;
    the horizon is its await timeout).

    Both sides are watermarked and the join condition carries the
    explicit event-time range — that PAIR is what lets Spark bound the
    join state: buffered events older than ``watermark`` are evicted,
    and a command's state can be dropped once the event watermark
    passes ``cmd_ts + horizon`` because no future event can still fall
    inside its window.  Without the range condition the state grows
    forever (both sides buffer everything); Spark accepts the query but
    a 100 TB deploy OOMs — the range is load-bearing, not decoration.

    ``how="inner"`` (default): matches emit as soon as both rows arrive
    (no watermark wait — only OUTER stream-stream joins must hold rows
    back to decide null-padding); the matched-pairs firehose.

    ``how="left_outer"``: the STREAMING TIMEOUT PATH — a command whose
    window ``[cmd_ts, cmd_ts + horizon]`` closes under the event
    watermark with no match emits once with NULL event columns, i.e.
    the reference's no-reply timeout (``broker.clj:117``) as a pure
    join, no custom state code.  Emission is watermark-gated: the null
    row appears only after the event watermark passes ``cmd_ts +
    horizon``, so downstream sees each command exactly once, matched
    or timed out (pinned by
    tests/test_streaming.py::test_stream_stream_outer_join_timeout_path).
    """
    delay_ms = _duration_ms(horizon)  # validates the spec eagerly too
    c = commands.withWatermark("cmd_ts", watermark)
    e = events.withWatermark("ts", watermark)
    return c.join(
        e,
        (F.col("cmd_id") == F.col("cid"))
        & (F.col("ts") >= F.col("cmd_ts"))
        & (F.col("ts") <= F.col("cmd_ts") + F.expr(f"INTERVAL {delay_ms} MILLISECONDS")),
        how,
    )


CORRELATED_SCHEMA = "cid string, name string, ts timestamp, seq bigint"


def correlate_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming per-cid first-event-wins correlation (A20 streaming
    flavor; reference ``broker.clj:102-117``: one promise per command
    cid, resolved by the FIRST event whose ``:cid`` matches, published
    on the cid topic at ``:161``).

    Out-of-order safe: "first" is by EVENT order ``(ts, seq, name)`` —
    the FULL batch tiebreak (``min(struct(ts, seq, name))``), not
    arrival order — per-cid state holds the running minimum, so an
    event that arrives late but happened earlier overwrites the
    provisional winner, and exact ``(ts, seq)`` ties resolve by name
    in both engines instead of arrival order.  Each micro-batch emits
    the current winner for every cid it touched (update mode); the last
    emit per cid therefore equals the batch
    ``correlate.first_event_name_agg`` answer (pinned by
    tests/test_streaming.py::test_correlate_stream_equals_batch).

    State is bounded two ways, mirroring the reference's registry of
    in-flight promises: one small row per cid, and event-time timeout
    eviction — the timeout is armed at winner_ts + the watermark delay,
    so once the watermark passes it (no earlier event can still arrive)
    the entry is dropped.  Commands that never receive any event have
    no state here at all; their 'timeout' status is produced by the
    downstream left-join (``plans.correlate.correlate``), same as
    batch.

    CORRELATION-EPOCH CONTRACT (the price of bounded state): eviction
    forgets that a cid was ever resolved, so an event for the SAME cid
    arriving after eviction opens a NEW correlation epoch and emits its
    own winner — batch over the full log would still report the
    original first event.  This mirrors the reference exactly
    (``broker.clj`` removes the promise from its registry on delivery;
    a later event for that cid finds nothing waiting), and is the same
    horizon trade-off ``dropDuplicatesWithinWatermark`` makes.  The
    batch-equality claim above therefore holds for events within the
    watermark horizon of the winner; keep cids unique per command (the
    reference's UUIDs are) or widen the watermark to cover the longest
    event spread.

    Input schema: ``cid string, ts timestamp, seq bigint, name string``
    with ``ts`` watermarked by the caller or here.
    """
    import pandas as pd

    delay_ms = _duration_ms(watermark)

    def nkey(ts_ns, seq, name):
        # Spark's struct ordering sorts a NULL field FIRST (smallest) —
        # pinned empirically and by test_correlate_stream_null_fields;
        # encode each field as (present, value) so Python tuples compare
        # the same way without int(NaN)/str(None) coercion crashes
        # (r11 review: one NULL seq row was a poison pill that killed
        # the whole query on every replay)
        return (
            (0, 0) if ts_ns is None else (1, ts_ns),
            (0, 0) if seq is None else (1, seq),
            (0, "") if name is None else (1, name),
        )

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        best = tuple(state.get) if state.exists else None  # (ts_ns, seq, name)
        for pdf in pdfs:
            if not len(pdf):
                continue
            # FULL (ts, seq, name) ordering, matching the batch twin's
            # min(struct(ts, seq, name)) — a 2-tuple compare would leave
            # exact (ts, seq) ties to arrival order (nondeterministic);
            # na_position="first" mirrors the struct NULLS-FIRST rule
            pdf = pdf.sort_values(["ts", "seq", "name"], na_position="first").iloc[0]
            ts_v, seq_v, name_v = pdf["ts"], pdf["seq"], pdf["name"]
            cand = (
                None if pd.isna(ts_v) else int(pd.Timestamp(ts_v).value),
                None if pd.isna(seq_v) else int(seq_v),
                None if name_v is None
                or (isinstance(name_v, float) and pd.isna(name_v))
                else str(name_v),
            )
            if best is None or nkey(*cand) < nkey(*best):
                best = cand
        if best is None:
            return
        state.update(best)
        # evict once no earlier event can still arrive: watermark has
        # passed winner_ts + delay (setTimeoutTimestamp takes ms); a
        # NULL winner ts has no event time to anchor — take the
        # watermark-fallback arm below
        try:
            if best[0] is None:
                raise ValueError("NULL winner ts: use watermark fallback")
            state.setTimeoutTimestamp(best[0] // 1_000_000 + delay_ms)
        except Exception:
            # timestamp already behind the watermark: arm a fallback just
            # above it so hasTimedOut still fires — leaving the key with
            # NO timeout would leak the entry until another event for the
            # same cid happened to arrive
            try:
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
            except Exception:
                pass  # no watermark yet this batch -> re-armed on next event
        yield pd.DataFrame(
            {
                "cid": [key[0]],
                "name": [best[2]],
                "ts": [pd.Timestamp(best[0]) if best[0] is not None else pd.NaT],
                "seq": [best[1]],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("cid")
        .applyInPandasWithState(
            update,
            outputStructType=CORRELATED_SCHEMA,
            stateStructType="ts_ns bigint, seq bigint, name string",
            outputMode="update",
            timeoutConf="EventTimeTimeout",
        )
    )


# Millisecond forms are listed BEFORE minute forms and every unit is
# followed by a (?![A-Za-z]) guard: without both, '250 ms' matched the
# bare 'm' (minutes) alternative first and the leftover 's' failed the
# trailing-text check, so every ms-unit spec raised ValueError (r8
# advisor finding — watermark/eviction/idle_timeout callers crashed on
# '250ms').  The guard also makes the alternation order-insensitive
# going forward: a prefix alternative can no longer swallow part of a
# longer unit word.
_DURATION_TERM_RE = re.compile(
    r"\s*(\d+(?:\.\d+)?)\s*"
    r"(milliseconds?|millis?|ms|weeks?|w|days?|d|hours?|hrs?|h"
    r"|minutes?|mins?|m|seconds?|secs?|s)(?![A-Za-z])\s*",
    re.IGNORECASE,
)

_DURATION_UNIT_MS = {
    "w": 604_800_000, "week": 604_800_000,
    "d": 86_400_000, "day": 86_400_000,
    "h": 3_600_000, "hr": 3_600_000, "hour": 3_600_000,
    "m": 60_000, "min": 60_000, "minute": 60_000,
    "s": 1_000, "sec": 1_000, "second": 1_000,
    "ms": 1, "milli": 1, "millisecond": 1,
}


def _duration_ms(spec: str) -> int:
    """Parse a Spark interval string ('1 hour', '30s', '1.5 hours',
    '2 days', '250 ms', '1 hour 30 minutes') to milliseconds.  Accepts
    what Spark's watermark/interval grammar does — week through
    millisecond units, long or abbreviated, optional plural, fractional
    amounts, COMPOUND multi-unit specs (r8 continuation review: a
    single-term regex rejected '1 hour 30 minutes', which
    ``withWatermark`` itself accepts); anything else raises ValueError
    with the offending spec named."""
    total = 0.0
    pos = 0
    n_terms = 0
    while pos < len(spec):
        m = _DURATION_TERM_RE.match(spec, pos)
        if not m:
            break
        amount, unit = m.groups()
        unit = unit.lower()
        key = unit if unit in _DURATION_UNIT_MS else unit.rstrip("s")
        total += float(amount) * _DURATION_UNIT_MS[key]
        n_terms += 1
        pos = m.end()
    if n_terms == 0 or spec[pos:].strip():
        raise ValueError(
            f"unsupported duration {spec!r}: expected one or more '<number> "
            "<week|day|hour|minute|second|millisecond>' terms "
            "(abbreviations ok, e.g. '30s', '1 hour 30 minutes')"
        )
    return int(total)


def stateful_user_counts(events: DataFrame, idle_timeout: str | None = None) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user event counter + last-seen timestamp (the streaming analog
    of the reference's per-cid correlation state, A20/B9).

    State is one (count, last_ts) pair per user — bounded by user
    cardinality; pass ``idle_timeout`` (a duration spec, e.g.
    ``"30 minutes"``) to ALSO evict users idle that long in processing
    time, bounding state by ACTIVE users instead.  (r8 continuation
    review: the old ``timeout=`` parameter forwarded a timeoutConf
    string without ever arming a timer or handling ``hasTimedOut`` —
    per Spark semantics no key ever times out unless the function arms
    one per invocation, so any non-NoTimeout value was a silent no-op.)
    An evicted user's counter restarts at 0 on their next event — the
    documented idle-session semantics, same re-open trade-off as
    :func:`correlate_stream`'s correlation epochs.

    HARNESS NOTE: a query with an armed processing-time timer never
    goes idle — the engine keeps scheduling timer batches while any
    timer is pending, so ``processAllAvailable`` never returns, and
    (measured in this sandbox) even ``trigger(availableNow=True)`` does
    not terminate after the data drain.  Drive such a query by polling
    the sink for the expected result and then ``stop()``-ing it."""
    import pandas as pd  # noqa: F401

    timeout_ms = None if idle_timeout is None else _duration_ms(idle_timeout)

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        n = 0
        last = 0
        if state.exists:
            n, last = state.get
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                last = max(last, int(pdf["ts"].astype("int64").max()))
        state.update((n, last))
        if timeout_ms is not None:
            # re-armed on every batch that touches the key: the timer
            # measures IDLE time, not lifetime
            state.setTimeoutDuration(timeout_ms)
        import pandas as pd

        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "last_ts_us": [last // 1000]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, last_ts_us bigint",
            stateStructType="n bigint, last bigint",
            outputMode="update",
            timeoutConf="NoTimeout" if timeout_ms is None else "ProcessingTimeTimeout",
        )
    )
