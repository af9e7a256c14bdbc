"""Streaming semantics tests (B9): dedupe-by-deterministic-id
(exactly-once effect), windowed aggregation, foreachBatch merge."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from lens_sds_batch_spark.streaming.pipeline import (
    dedupe_stream,
    read_event_stream,
    run_to_memory,
    windowed_counts,
)

from .conftest import SF_SMOKE


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """Two files with overlapping event_ids — simulated at-least-once
    redelivery.  load_events canonicalizes source timestamps to ts_ns
    BIGINT; rewrite to micros TIMESTAMP for the stream schema."""
    from lens_sds_batch_spark.sources.parquet import load_events

    src = (
        load_events(spark, SF_SMOKE)
        .withColumn("ts", F.expr("timestamp_micros(ts_ns div 1000)"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .limit(200)
    )
    d = str(tmp_path / "stream")
    src.where(F.col("event_id") < 150).coalesce(1).write.parquet(d)
    # second delivery overlaps [100, 150) — replayed ids
    src.where((F.col("event_id") >= 100) & (F.col("event_id") < 200)).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_dedupe_exactly_once_effect(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = run_to_memory(dedupe_stream(stream), "deduped")
    try:
        got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM deduped").collect()[0]
        assert got["n"] == got["d"] == 200  # replayed ids collapsed
    finally:
        q.stop()


def test_stream_windowed_counts_match_batch(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=2)
    q = run_to_memory(
        windowed_counts(dedupe_stream(stream), watermark=None), "win", output_mode="append"
    )
    try:
        # append mode only emits closed windows; check subset-consistency
        batch = (
            spark.read.parquet(stream_dir)
            .dropDuplicates(["event_id"])
            .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        streamed = spark.sql("SELECT window_start, event_type, n FROM win")
        joined = streamed.alias("s").join(
            batch.alias("b"),
            (F.col("s.window_start") == F.col("b.window_start"))
            & (F.col("s.event_type") == F.col("b.event_type")),
        )
        mismatched = joined.where(F.col("s.n") != F.col("b.n"))
        assert mismatched.count() == 0
    finally:
        q.stop()


def test_foreach_batch_lww_merge(spark, stream_dir, tmp_path):
    """foreachBatch sink applying the LWW merge per micro-batch."""
    from lens_sds_batch_spark.plans.merge import apply_lww

    out = str(tmp_path / "state")
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)

    def merge_batch(batch_df, epoch_id):
        merged = apply_lww(
            batch_df,
            keys=["user_id"],
            order_cols=[F.col("ts"), F.col("event_id")],
            is_delete=F.lit(False),
        )
        merged.write.mode("append").parquet(out)

    q = stream.writeStream.foreachBatch(merge_batch).start()
    q.processAllAvailable()
    q.stop()
    # every user appearing in the source has at least one state row
    users_src = {r[0] for r in spark.read.parquet(stream_dir).select("user_id").distinct().collect()}
    users_out = {r[0] for r in spark.read.parquet(out).select("user_id").distinct().collect()}
    assert users_src == users_out


def test_retryable_error_requeue_on_restart(spark, stream_dir, tmp_path):
    """Reference broker.clj:87-95: a RETRYABLE failure nacks + requeues
    the delivery.  The Structured Streaming analog: a micro-batch that
    throws is NOT committed to the checkpoint and replays on restart.
    First attempt: the sink raises on transient rows (k in (50,75],
    resource down).  Restart on the same checkpoint with the resource
    back: the batch replays and every event lands, no loss and no
    double-write (the failed attempt never reached the sink)."""
    out = str(tmp_path / "routed_out")
    ckpt = str(tmp_path / "ckpt")

    def make_sink(resource_up):
        def sink(batch_df, epoch_id):
            k = F.get_json_object("props", "$.k").cast("bigint")
            routed = batch_df.withColumn(
                "route",
                F.when((k > 50) & (k <= 75), "transient").otherwise("ok"),
            )
            if not resource_up and routed.where(F.col("route") == "transient").count() > 0:
                raise RuntimeError("downstream unavailable — retryable, requeue")
            routed.write.mode("append").parquet(out)

        return sink

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        stream.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(make_sink(resource_up=False))
        .start()
    )
    with pytest.raises(Exception, match="retryable|Terminated with exception"):
        q.processAllAvailable()
    q.stop()

    q2 = (
        read_event_stream(spark, stream_dir, max_files_per_trigger=1)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(make_sink(resource_up=True))
        .start()
    )
    q2.processAllAvailable()
    q2.stop()

    got = spark.read.parquet(out)
    src = spark.read.parquet(stream_dir)
    assert got.count() == src.count()  # nothing lost, nothing doubled
    assert got.where(F.col("route") == "transient").count() > 0


def test_requeue_feedback_loop(spark, tmp_path):
    """requeue_sink pointed at the stream's own source dir = the AMQP
    requeue loop: transient rows fail on attempt 0, are redelivered with
    attempts=1 and then succeed; fatal rows dead-letter immediately;
    nothing is lost and nothing retries past the budget."""
    from lens_sds_batch_spark.streaming.pipeline import requeue_sink

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    dead = str(tmp_path / "dead")
    schema = "event_id bigint, kind string, attempts int"
    rows = [(i, ("ok" if i % 3 == 0 else "transient" if i % 3 == 1 else "fatal"), 0) for i in range(60)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    # transient rows succeed once redelivered (attempts >= 1)
    is_ok = (F.col("kind") == "ok") | ((F.col("kind") == "transient") & (F.col("attempts") >= 1))
    is_retryable = F.col("kind") == "transient"
    sink = requeue_sink(out, dead, src, is_ok, is_retryable, max_attempts=3)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()  # drains the feedback file too
    q.stop()

    got = spark.read.parquet(out)
    assert got.count() == 40  # 20 ok + 20 transient-after-retry
    tr = got.where(F.col("kind") == "transient")
    assert tr.count() == 20 and tr.where(F.col("attempts") != 1).count() == 0
    dd = spark.read.parquet(dead)
    assert dd.count() == 20 and dd.where(F.col("kind") != "fatal").count() == 0


def test_requeue_routing_batch_equals_stream(spark, tmp_path):
    """r9: the gated batch twin (`operators.cdc.requeue_routing`)
    claims to BE the streaming requeue loop run to fixpoint — pin it
    against the LIVE loop: same subset, same failure model, same sink,
    real readStream with the feedback edge pointed at its own source
    dir, drained to quiescence.  Every (event_id, route, attempts)
    triple must match."""
    from lens_sds_batch_spark.operators.cdc import (
        _RQ_FAIL_MOD,
        _RQ_FATAL_MOD,
        _RQ_MAX_ATTEMPTS,
        _RQ_SUBSET_MOD,
        requeue_routing,
    )
    from lens_sds_batch_spark.sources.parquet import load_events
    from lens_sds_batch_spark.streaming.pipeline import requeue_sink

    from .conftest import SF_SMOKE

    src, out, dead = (str(tmp_path / d) for d in ("src", "out", "dead"))
    (
        load_events(spark, SF_SMOKE)
        .where(F.col("event_id") % _RQ_SUBSET_MOD == 0)
        .select("event_id", F.lit(0).alias("attempts"))
        .coalesce(1)
        .write.parquet(src)
    )
    att = F.coalesce(F.col("attempts"), F.lit(0))
    is_ok = att >= F.col("event_id") % _RQ_FAIL_MOD
    is_retryable = F.col("event_id") % _RQ_FATAL_MOD != 0
    sink = requeue_sink(out, dead, src, is_ok, is_retryable, max_attempts=_RQ_MAX_ATTEMPTS)
    q = (
        spark.readStream.schema("event_id bigint, attempts int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()  # drains the feedback redeliveries too
    q.stop()

    def final(path: str, route: str) -> set:
        df = spark.read.parquet(path)
        return {(r["event_id"], route, int(r["attempts"] or 0)) for r in df.collect()}

    streamed = final(out, "ok") | final(dead, "dead")
    batch = {
        (r["event_id"], r["route"], int(r["final_attempts"]))
        for r in requeue_routing(spark, SF_SMOKE).collect()
    }
    assert len(batch) > 0 and streamed == batch


def test_correlate_stream_equals_batch(spark, tmp_path):
    """A20 streaming flavor: per-cid first-event-wins under OUT-OF-ORDER
    delivery (reference broker.clj:102-117 — the promise per cid takes
    the first matching event).  Batch 1 delivers later event-times
    first; batch 2 delivers earlier events late.  The streamed winner
    (min over the update-mode emits, which equals the final state) must
    match batch first_event_name_agg over the same static data."""
    import datetime as dt

    from lens_sds_batch_spark.plans.correlate import first_event_name_agg
    from lens_sds_batch_spark.streaming.pipeline import CORRELATED_SCHEMA, correlate_stream

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    schema = "cid string, ts timestamp, seq bigint, name string"
    # arrives FIRST: the in-event-time LATER events (provisional winners)
    b1 = [(f"C{i}", base + dt.timedelta(minutes=30 + i), 2, "updated") for i in range(8)]
    # ... plus an exact-(ts, seq) tie delivered LOSER-first: the winner
    # must come from the full (ts, seq, name) ordering, matching batch
    # min(struct(ts, seq, name)) — not arrival order (r8 review)
    b1.append(("CT", base + dt.timedelta(minutes=5), 5, "b_second_by_name"))
    # arrives SECOND: earlier event-times for the even cids -> must overwrite
    b2 = [(f"C{i}", base + dt.timedelta(minutes=i), 1, "created") for i in range(0, 8, 2)]
    b2.append(("CT", base + dt.timedelta(minutes=5), 5, "a_first_by_name"))
    d = str(tmp_path / "corr_src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(d)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    q = run_to_memory(correlate_stream(stream, watermark="2 hours"), "corr", output_mode="update")
    try:
        assert [f.simpleString() for f in spark.table("corr").schema] == [
            f.simpleString() for f in spark.createDataFrame([], CORRELATED_SCHEMA).schema
        ]
        # running-min state ⇒ final winner = min (ts, seq) over all emits
        streamed = spark.sql(
            "SELECT cid, min(struct(ts, seq, name)).name AS name FROM corr GROUP BY cid"
        )
        batch = first_event_name_agg(spark.read.parquet(d), ["ts", "seq"])
        got = {r["cid"]: r["name"] for r in streamed.collect()}
        want = {r["cid"]: r["name"] for r in batch.collect()}
        assert got == want
        # and the overwrite really exercised the out-of-order path
        assert got["C0"] == "created" and got["C1"] == "updated"
        # exact-tie resolved by name in event order, not arrival order
        assert got["CT"] == "a_first_by_name"
    finally:
        q.stop()


def test_session_windows_stream_equals_batch(spark, tmp_path):
    """B9 session windows in streaming == batch session_window on the
    same data.  Sessions must MERGE across micro-batches (file 2 brings
    events inside file 1's gap) and only emit once closed; a far-future
    sentinel event pushes the watermark past every real session so
    append mode emits them all."""
    import datetime as dt

    from lens_sds_batch_spark.streaming.pipeline import session_windows_stream

    base = dt.datetime(2026, 1, 1, 8, 0, 0)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"

    def ev(i, minutes, uid):
        return (i, base + dt.timedelta(minutes=minutes), uid, "e", 0.0, "{}")

    # user 1: events at 0,10 | gap | 60,70   user 2: 0 | gap | 100
    f1 = [ev(1, 0, 1), ev(2, 10, 1), ev(3, 60, 1), ev(4, 0, 2)]
    # file 2 lands INSIDE user 1's first session gap window (minute 20)
    # -> the open [0,10] session must absorb it, and adds 70 + user2's 100
    f2 = [ev(5, 20, 1), ev(6, 70, 1), ev(7, 100, 2)]
    sentinel = [ev(99, 60 * 24, 999)]  # pushes watermark past everything
    d = str(tmp_path / "sess_src")
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(d)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(sentinel, schema).coalesce(1).write.mode("append").parquet(d)

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    q = run_to_memory(
        session_windows_stream(stream, gap="30 minutes", watermark="10 minutes"),
        "sess",
        output_mode="append",
    )
    try:
        got = {
            (r["user_id"], r["session_start_us"]): r["n_events"]
            for r in spark.sql("SELECT * FROM sess WHERE user_id != 999").collect()
        }
        batch = (
            spark.read.parquet(d)
            .where(F.col("user_id") != 999)
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
                "n_events",
            )
        )
        want = {(r["user_id"], r["session_start_us"]): r["n_events"] for r in batch.collect()}
        assert got == want
        # the cross-batch merge really happened: user 1's first session
        # holds 0,10 (file 1) + 20 (file 2) = 3 events
        assert got[(1, int(base.timestamp()) * 1_000_000)] == 3
    finally:
        q.stop()


def test_stateful_user_counts(spark, stream_dir):
    """applyInPandasWithState accumulates per-user counts across
    micro-batches (update mode: last emitted row per user = total)."""
    from lens_sds_batch_spark.streaming.pipeline import stateful_user_counts

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = run_to_memory(stateful_user_counts(stream), "ustate", output_mode="update")
    try:
        # last update per user must equal the raw (with-duplicates) count
        final = spark.sql(
            """SELECT user_id, max(n_events) AS n FROM ustate GROUP BY user_id"""
        )
        raw = (
            spark.read.parquet(stream_dir)
            .groupBy("user_id")
            .count()
            .withColumnRenamed("count", "expected")
        )
        joined = final.join(raw, "user_id")
        bad = joined.where(F.col("n") != F.col("expected"))
        assert bad.count() == 0
        assert final.count() == raw.count()
    finally:
        q.stop()


def test_requeue_null_routing_total(spark, tmp_path):
    """Total-routing contract under NULLs (ADVICE r3): rows whose
    predicates or attempts evaluate to NULL must still land in exactly
    one of out/requeue/dead — never silently dropped.  NULL is_ok ->
    not-ok; NULL is_retryable -> fatal; NULL attempts -> treated as 0
    (so a retryable row with NULL attempts requeues instead of
    vanishing from BOTH the requeue and dead branches)."""
    from lens_sds_batch_spark.streaming.pipeline import requeue_sink

    src = str(tmp_path / "nsrc")
    out = str(tmp_path / "nout")
    dead = str(tmp_path / "ndead")
    schema = "event_id bigint, kind string, attempts int"
    rows = [
        (1, "ok", 0),
        (2, None, 0),        # NULL kind -> NULL predicates -> dead
        (3, "transient", None),  # NULL attempts + retryable -> requeue, then succeed
        (4, "fatal", None),  # NULL attempts + fatal -> dead
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    is_ok = (F.col("kind") == "ok") | (
        (F.col("kind") == "transient") & (F.col("attempts") >= 1)
    )
    is_retryable = F.col("kind") == "transient"
    sink = requeue_sink(out, dead, src, is_ok, is_retryable, max_attempts=3)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got_out = spark.read.parquet(out).collect()
    got_dead = spark.read.parquet(dead).collect()
    # every row accounted for exactly once in a terminal output
    assert sorted(r["event_id"] for r in got_out) == [1, 3]
    assert sorted(r["event_id"] for r in got_dead) == [2, 4]
    # the NULL-attempts transient really went around the loop once
    assert [r["attempts"] for r in got_out if r["event_id"] == 3] == [1]


def test_stream_raw_driver_parquet_schema_adaptive(spark):
    """Drift-proofing (r4 verdict #1): read_event_stream pointed at the
    RAW driver events.parquet — no fixture re-materialization — must
    declare the at-rest ts type correctly (TIMESTAMP_NTZ today, NANOS in
    rounds 1-2) and canonicalize it to a session-TZ timestamp, so the
    streamed tumbling aggregate equals the batch one over load_events'
    ts_ns.  If the driver's physical type drifts again, this fails here
    instead of erasing CORRECTNESS rows (the round-3 failure class)."""
    from pyspark.sql import types as T

    from lens_sds_batch_spark.sources.parquet import load_events

    stream = read_event_stream(spark, f"{SF_SMOKE}/events.parquet", max_files_per_trigger=10)
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
    q = run_to_memory(windowed_counts(stream, watermark=None), "raw_win", output_mode="complete")
    try:
        streamed = {
            (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
            for r in spark.sql("SELECT * FROM raw_win").collect()
        }
        batch = (
            load_events(spark, SF_SMOKE)
            .groupBy(
                F.timestamp_micros(
                    (F.col("ts_ns") / 1000 / 3_600_000_000).cast("bigint") * 3_600_000_000
                ).alias("window_start"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        )
        want = {
            (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
            for r in batch.collect()
        }
        assert streamed == want and len(want) > 0
    finally:
        q.stop()


def test_canonicalize_event_ts_all_physical_types(spark):
    """The three at-rest branches of _canonicalize_event_ts map the same
    instant to the same timestamp: int64 epoch-nanos, TIMESTAMP_NTZ, and
    already-TIMESTAMP all land on identical session-TZ instants."""
    from lens_sds_batch_spark.streaming.pipeline import _canonicalize_event_ts

    ns = 1_700_000_000_123_456_000
    via_long = _canonicalize_event_ts(spark.createDataFrame([(ns,)], "ts bigint"))
    via_ntz = _canonicalize_event_ts(
        spark.sql(f"SELECT cast(timestamp_micros({ns // 1000}) AS timestamp_ntz) AS ts")
    )
    via_ts = _canonicalize_event_ts(spark.sql(f"SELECT timestamp_micros({ns // 1000}) AS ts"))
    got = {df.select(F.unix_micros("ts")).collect()[0][0] for df in (via_long, via_ntz, via_ts)}
    assert got == {ns // 1000}


def test_kafka_source_rejects_file_trigger_knob(spark):
    """max_files_per_trigger is a file-source knob; passing it with the
    kafka transport must fail loudly instead of being silently ignored
    (ADVICE r3)."""
    with pytest.raises(ValueError, match="maxOffsetsPerTrigger"):
        read_event_stream(
            spark,
            max_files_per_trigger=4,
            source_format="kafka",
            kafka_options={"kafka.bootstrap.servers": "example:9092"},
        )


def test_kafka_value_parse_guard_semantics(spark):
    """The kafka branch's malformed-record guard, pinned on batch data
    (the sandbox has no broker): from_json in PERMISSIVE mode yields a
    struct whose FIELDS are all NULL for malformed JSON — `e IS NOT
    NULL` keeps it (the r4 review catch) — so the guard keys on the
    required event_id field.  If Spark's PERMISSIVE semantics ever
    change, this fails before the production seam does."""
    from lens_sds_batch_spark.streaming.pipeline import EVENTS_SCHEMA

    vals = spark.createDataFrame(
        [
            ('{"event_id": 7, "ts": "2024-01-01T00:00:00", "user_id": 1, '
             '"event_type": "a", "value": 1.5, "props": "{}"}',),
            ("not json",),
            (None,),
            ('{"user_id": 2}',),  # schema-valid JSON missing event_id
        ],
        "value string",
    )
    parsed = vals.select(F.from_json(F.col("value"), EVENTS_SCHEMA).alias("e"))
    # document the footgun: struct-of-NULLs is NOT a NULL struct
    assert parsed.where(F.col("e").isNotNull()).count() == 3
    good = parsed.where(F.col("e.event_id").isNotNull()).select("e.*")
    rows = good.collect()
    assert [r["event_id"] for r in rows] == [7]
    assert rows[0]["value"] == 1.5


def test_kafka_malformed_routes_to_dead_letter(spark, tmp_path):
    """A22 completeness on the kafka seam: malformed record values are
    NOT silently dropped — parse_event_records flags them, and routing
    through requeue_sink's fatal path lands them (with their raw bytes)
    in the dead output, counted.  Runs on batch data: the foreachBatch
    sink function is a plain callable and the parse helper is
    transport-agnostic, so no live broker is needed."""
    from lens_sds_batch_spark.streaming.pipeline import parse_event_records, requeue_sink

    records = spark.createDataFrame(
        [
            ('{"event_id": 7, "ts": "2024-01-01T00:00:00", "user_id": 1, '
             '"event_type": "a", "value": 1.5, "props": "{}"}',),
            ('{"event_id": 8, "ts": "2024-01-01T00:01:00", "user_id": 2, '
             '"event_type": "b", "value": 2.5, "props": "{}"}',),
            ("not json",),
            (None,),  # tombstone record value
            ('{"user_id": 2}',),  # schema-valid JSON missing event_id
        ],
        "value string",
    )
    parsed = parse_event_records(records)
    assert parsed.where("_malformed").count() == 3
    out, dead, requeue = str(tmp_path / "out"), str(tmp_path / "dead"), str(tmp_path / "rq")
    metrics: dict = {}
    sink = requeue_sink(
        out, dead, requeue,
        is_ok=~F.col("_malformed"),
        is_retryable=F.lit(False),  # bytes that don't parse never will
        metrics=metrics,
        ok_drop_cols=("_raw_value", "_malformed"),
    )
    sink(parsed, epoch_id=0)
    assert {k: v for k, v in metrics.items() if not k.startswith("_")} == {
        "ok": 2, "requeued": 0, "dead": 3,
    }
    dead_rows = spark.read.parquet(dead).collect()
    assert len(dead_rows) == 3
    # the dead output preserves the raw evidence for forensics
    assert {r["_raw_value"] for r in dead_rows} == {"not json", None, '{"user_id": 2}'}
    ok_df = spark.read.parquet(out)
    assert {r["event_id"] for r in ok_df.collect()} == {7, 8}
    # the ack path's schema matches the plain-source event schema —
    # routing bookkeeping must not leak into downstream consumers
    assert not {"_raw_value", "_malformed"} & set(ok_df.columns)
    import os

    assert not os.path.exists(requeue)  # nothing retryable -> no feedback file
    # foreachBatch is at-least-once: a replay of the SAME epoch must not
    # double-count the A22 metrics (the parquet re-append is the
    # documented file-sink at-least-once contract, absorbed downstream
    # by deterministic ids — only the observability counters dedupe)
    sink(parsed, epoch_id=0)
    assert {k: v for k, v in metrics.items() if not k.startswith("_")} == {
        "ok": 2, "requeued": 0, "dead": 3,
    }
    # ...and the guard must survive the restart-rebuilds-the-sink
    # pattern: a FRESH sink instance over the same dirs + dict replaying
    # the same epoch still skips (the last-epoch record is dict-resident,
    # namespaced by out_dir — r6 review)
    sink2 = requeue_sink(
        out, dead, requeue,
        is_ok=~F.col("_malformed"),
        is_retryable=F.lit(False),
        metrics=metrics,
        ok_drop_cols=("_raw_value", "_malformed"),
    )
    sink2(parsed, epoch_id=0)
    assert {k: v for k, v in metrics.items() if not k.startswith("_")} == {
        "ok": 2, "requeued": 0, "dead": 3,
    }


def test_durable_metrics_survive_driver_restart(spark, tmp_path):
    """r8 (VERDICT r7 #8): DurableMetrics closes the documented
    driver-restart hole — a restart rebuilds BOTH the sink and the
    metrics object, and the checkpoint-replayed epoch must still be
    skipped because the tally + last-epoch record persisted atomically
    to disk.  Also pins crash-before-epoch-key recovery: a file state
    missing the epoch key re-tallies the replayed epoch from the
    pre-batch base (count once, not twice)."""
    import json

    from lens_sds_batch_spark.streaming.pipeline import DurableMetrics, requeue_sink

    rows = spark.createDataFrame(
        [(1, 0, True), (2, 0, False), (3, 0, False)], "id int, attempts int, good boolean"
    )
    out, dead, rq = str(tmp_path / "out"), str(tmp_path / "dead"), str(tmp_path / "rq")
    mpath = str(tmp_path / "metrics.json")

    def mk_sink(metrics):
        return requeue_sink(
            out, dead, rq, is_ok=F.col("good"), is_retryable=F.lit(False), metrics=metrics
        )

    m1 = DurableMetrics(mpath)
    mk_sink(m1)(rows, epoch_id=0)
    assert (m1.get("ok"), m1.get("dead")) == (1, 2)

    # driver restart: fresh metrics object from the same path, fresh
    # sink, Spark replays the last epoch — counts must NOT move
    m2 = DurableMetrics(mpath)
    assert (m2.get("ok"), m2.get("dead")) == (1, 2)
    mk_sink(m2)(rows, epoch_id=0)
    assert (m2.get("ok"), m2.get("dead")) == (1, 2)
    # a NEW epoch still advances the tally and re-persists
    mk_sink(m2)(rows, epoch_id=1)
    assert (DurableMetrics(mpath).get("ok"), DurableMetrics(mpath).get("dead")) == (2, 4)

    # crash-before-epoch-key: simulate by stripping the epoch record
    # from the persisted state (the atomic-flush contract means the
    # real crash leaves exactly this: counters at the PRE-batch value,
    # no epoch key) — replay must tally ONCE from that base
    with open(mpath) as f:
        state = json.load(f)
    state = {k: v for k, v in state.items() if not k.startswith("_last_epoch:")}
    with open(mpath, "w") as f:
        json.dump(state, f)
    m3 = DurableMetrics(mpath)
    mk_sink(m3)(rows, epoch_id=1)
    assert (m3.get("ok"), m3.get("dead")) == (3, 6)
    mk_sink(m3)(rows, epoch_id=1)  # replay again: now skipped
    assert (m3.get("ok"), m3.get("dead")) == (3, 6)


def test_kafka_seam_three_way_routing_end_to_end(spark, tmp_path):
    """A22 3-way routing ON A RUNNING STREAM (reference broker.clj:65-95
    ack / reject(requeue=true) / reject(requeue=false)): a binary
    `value` file stream stands in for the kafka reader (same record
    shape the kafka source emits), flows through parse_event_records →
    requeue_sink, across TWO triggers (maxFilesPerTrigger=1).  Asserts
    every class lands in exactly one output, counted:

    - ok records            → out_dir, bookkeeping columns stripped
    - malformed (bad JSON / NULL tombstone / type-corrupt field) → dead,
      with raw-byte evidence
    - retryable (transient event_type, attempts budget left) → requeue
      with attempts+1
    - fatal (non-retryable app failure) → dead
    """
    import json as _json
    import os

    from lens_sds_batch_spark.streaming.pipeline import parse_event_records, requeue_sink

    def rec(eid, etype="a", value=1.5):
        return _json.dumps(
            {"event_id": eid, "ts": "2024-01-01T00:00:00", "user_id": 1,
             "event_type": etype, "value": value, "props": "{}"}
        ).encode()

    src = str(tmp_path / "topic")
    # trigger 1: ok, malformed bytes, type-corrupt field (event_id
    # parses, value doesn't — the silent-null class)
    spark.createDataFrame(
        [(rec(1),), (b"not json",),
         (b'{"event_id": 9, "ts": "2024-01-01T00:00:00", "user_id": 1, '
          b'"event_type": "a", "value": "abc", "props": "{}"}',)],
        "value binary",
    ).coalesce(1).write.parquet(src)
    # trigger 2: ok, retryable transient, NULL tombstone, fatal
    spark.createDataFrame(
        [(rec(2),), (rec(3, etype="transient"),), (None,), (rec(4, etype="fatal"),)],
        "value binary",
    ).coalesce(1).write.mode("append").parquet(src)

    out, dead, requeue = str(tmp_path / "out"), str(tmp_path / "dead"), str(tmp_path / "rq")
    metrics: dict = {}
    sink = requeue_sink(
        out, dead, requeue,
        is_ok=(~F.col("_malformed")) & ~F.col("event_type").isin("transient", "fatal"),
        is_retryable=(~F.col("_malformed")) & (F.col("event_type") == "transient"),
        max_attempts=3,
        metrics=metrics,
        ok_drop_cols=("_raw_value", "_malformed", "attempts"),
    )
    q = (
        parse_event_records(
            spark.readStream.schema("value binary").option("maxFilesPerTrigger", 1).parquet(src)
        )
        .writeStream.foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    n_triggers = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    assert n_triggers >= 2  # the routing held ACROSS micro-batches

    assert {k: v for k, v in metrics.items() if not k.startswith("_")} == {
        "ok": 2,          # event_id 1, 2
        "requeued": 1,    # event_id 3 (transient, attempts 0 -> 1)
        "dead": 4,        # bad JSON + type-corrupt + tombstone + fatal
    }
    ok_df = spark.read.parquet(out)
    assert {r["event_id"] for r in ok_df.collect()} == {1, 2}
    assert not {"_raw_value", "_malformed", "attempts"} & set(ok_df.columns)
    rq = spark.read.parquet(requeue).collect()
    assert [(r["event_id"], r["attempts"]) for r in rq] == [(3, 1)]
    dead_rows = spark.read.parquet(dead).collect()
    assert len(dead_rows) == 4
    by_raw = {r["_raw_value"] for r in dead_rows}
    assert "not json" in by_raw and None in by_raw  # raw evidence kept
    assert {r["event_id"] for r in dead_rows if r["event_id"] is not None} == {4, 9}
    assert os.path.exists(dead) and os.path.exists(requeue)


def test_stream_sliding_windows_match_batch(spark, stream_dir):
    """B9 sliding-window twin: streaming windowed_counts with a 2h
    window sliding every 1h must agree with a batch recomputation —
    each event lands in exactly 2 windows, and every window the stream
    emits carries the full batch count for that (window, type) pair.
    Complements the tumbling pin above so BOTH window shapes have a
    streaming-equals-batch witness."""
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=2)
    q = run_to_memory(
        windowed_counts(dedupe_stream(stream), window="2 hours", slide="1 hour", watermark=None),
        "win_slide",
        output_mode="append",
    )
    try:
        ev = spark.read.parquet(stream_dir).dropDuplicates(["event_id"])
        hour = 3600
        batch = (
            ev.select(
                "event_type",
                F.explode(F.array(F.lit(0), F.lit(1))).alias("k"),
                (F.unix_timestamp("ts") / hour).cast("bigint").alias("hidx"),
            )
            .select(
                ((F.col("hidx") - F.col("k")) * hour).alias("ws_epoch"), "event_type"
            )
            .groupBy("ws_epoch", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        streamed = spark.sql(
            "SELECT unix_timestamp(window_start) AS ws_epoch, event_type, n FROM win_slide"
        )
        assert streamed.count() > 0  # watermark must have closed some windows
        mismatched = (
            streamed.alias("s")
            .join(batch.alias("b"), ["ws_epoch", "event_type"])
            .where(F.col("s.n") != F.col("b.n"))
        )
        assert mismatched.count() == 0
    finally:
        q.stop()


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """B9 stream-stream interval join: commands and events arrive as
    two independent file streams (2 files each, out-of-order event
    times across batches); every (command, event) pair with the event
    inside [cmd_ts, cmd_ts + 1h] must emit exactly once, equal to the
    static batch join."""
    import datetime as dt

    from lens_sds_batch_spark.streaming.pipeline import correlate_join_stream

    base = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    cmd_rows = [(f"C{i}", ts(10 * i)) for i in range(12)]
    ev_rows = []
    for i in range(12):
        ev_rows.append((f"C{i}", ts(10 * i + 5), f"ok{i}"))        # inside horizon
        ev_rows.append((f"C{i}", ts(10 * i + 90), f"late{i}"))     # outside (90m > 1h)
        if i % 3 == 0:
            ev_rows.append((f"C{i}", ts(10 * i + 30), f"second{i}"))  # inside too
    ev_rows.append(("C999", ts(0), "orphan"))  # no matching command

    cdir, edir = str(tmp_path / "cmds"), str(tmp_path / "events")
    cdf = spark.createDataFrame(cmd_rows, "cmd_id string, cmd_ts timestamp")
    edf = spark.createDataFrame(ev_rows, "cid string, ts timestamp, name string")
    # split into 2 files each, interleaved delivery (second halves carry
    # EARLIER event-times than the first halves' tails -> out-of-order)
    cdf.where("cmd_id < 'C5'").coalesce(1).write.parquet(cdir)
    cdf.where("cmd_id >= 'C5'").coalesce(1).write.mode("append").parquet(cdir)
    edf.where("name like '%1%'").coalesce(1).write.parquet(edir)
    edf.where("name not like '%1%'").coalesce(1).write.mode("append").parquet(edir)

    cstream = spark.readStream.schema("cmd_id string, cmd_ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(cdir)
    estream = spark.readStream.schema("cid string, ts timestamp, name string").option(
        "maxFilesPerTrigger", 1
    ).parquet(edir)
    joined = correlate_join_stream(cstream, estream, horizon="1 hour", watermark="10 minutes")
    q = run_to_memory(joined.select("cmd_id", "name"), "ssj", output_mode="append")
    try:
        got = {(r["cmd_id"], r["name"]) for r in spark.sql("SELECT * FROM ssj").collect()}
        n_got = spark.sql("SELECT count(*) AS n FROM ssj").first()["n"]
    finally:
        q.stop()

    batch = (
        cdf.join(
            edf,
            (cdf.cmd_id == edf.cid)
            & (edf.ts >= cdf.cmd_ts)
            & (edf.ts <= F.expr("cmd_ts + INTERVAL 1 HOUR")),
        )
        .select("cmd_id", "name")
    )
    want = {(r["cmd_id"], r["name"]) for r in batch.collect()}
    assert got == want
    assert n_got == len(want)  # exactly once: no duplicate emits
    assert all(not n.startswith("late") for _, n in got)
    assert not any(c == "C999" for c, _ in got)


def test_stream_stream_outer_join_timeout_path(spark, tmp_path):
    """B9 streaming timeout path (reference broker.clj:117 — the await
    that never resolves): a LEFT OUTER interval join emits a command
    with NULL event columns exactly once, after the event watermark
    passes cmd_ts + horizon.  Far-future rows on both streams push the
    watermark so the timeout decision is forced inside the test."""
    import datetime as dt

    from lens_sds_batch_spark.streaming.pipeline import correlate_join_stream

    base = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    cdir, edir = str(tmp_path / "cmds"), str(tmp_path / "events")
    spark.createDataFrame(
        [("C1", ts(0)), ("C2", ts(5))], "cmd_id string, cmd_ts timestamp"
    ).coalesce(1).write.parquet(cdir)
    spark.createDataFrame(
        [("C1", ts(3), "ok1")], "cid string, ts timestamp, name string"
    ).coalesce(1).write.parquet(edir)
    # watermark pushers (their own windows stay open; they must NOT emit)
    spark.createDataFrame(
        [("CX", ts(600))], "cmd_id string, cmd_ts timestamp"
    ).coalesce(1).write.mode("append").parquet(cdir)
    spark.createDataFrame(
        [("EX", ts(600), "push")], "cid string, ts timestamp, name string"
    ).coalesce(1).write.mode("append").parquet(edir)

    c = spark.readStream.schema("cmd_id string, cmd_ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(cdir)
    e = spark.readStream.schema("cid string, ts timestamp, name string").option(
        "maxFilesPerTrigger", 1
    ).parquet(edir)
    joined = correlate_join_stream(
        c, e, horizon="10 minutes", watermark="5 minutes", how="left_outer"
    ).select("cmd_id", F.coalesce(F.col("name"), F.lit("timeout")).alias("status"))
    q = joined.writeStream.outputMode("append").format("memory").queryName("oj").start()
    try:
        q.processAllAvailable()
        q.processAllAvailable()  # extra pass: final watermark propagates
        rows = sorted(
            (r["cmd_id"], r["status"]) for r in spark.sql("SELECT * FROM oj").collect()
        )
    finally:
        q.stop()
    # C1 matched; C2's window closed under the watermark with no event
    # -> exactly one timeout row; CX's window is still open -> nothing
    assert rows == [("C1", "ok1"), ("C2", "timeout")]


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """The interval join's buffered state must survive a
    checkpoint restart: a command whose event has NOT arrived when the
    query stops must still match when the event arrives after restart —
    the crash-recovery twin of the reference's in-flight promise
    registry (broker.clj:102-117)."""
    import datetime as dt

    from lens_sds_batch_spark.streaming.pipeline import correlate_join_stream

    base = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    cdir, edir = str(tmp_path / "cmds"), str(tmp_path / "events")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("C1", ts(0)), ("C2", ts(5))], "cmd_id string, cmd_ts timestamp"
    ).coalesce(1).write.parquet(cdir)
    spark.createDataFrame(
        [("C1", ts(3), "ok1")], "cid string, ts timestamp, name string"
    ).coalesce(1).write.parquet(edir)

    def start():
        c = spark.readStream.schema("cmd_id string, cmd_ts timestamp").parquet(cdir)
        e = spark.readStream.schema("cid string, ts timestamp, name string").parquet(edir)
        return (
            correlate_join_stream(c, e, horizon="1 hour", watermark="10 minutes")
            .select("cmd_id", "name")
            .writeStream.option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()  # C2 sits in join state, unmatched
    # C2's event arrives while the query is DOWN
    spark.createDataFrame(
        [("C2", ts(8), "ok2")], "cid string, ts timestamp, name string"
    ).coalesce(1).write.mode("append").parquet(edir)
    q = start()
    q.processAllAvailable()
    q.stop()
    rows = sorted((r["cmd_id"], r["name"]) for r in spark.read.parquet(out).collect())
    assert rows == [("C1", "ok1"), ("C2", "ok2")]


def test_span_dedup_stream_keep_first_cross_batch(spark, tmp_path):
    """B11 streaming twin of span_dedup: explode_spans +
    dropDuplicates(span_md5) over a file stream.  A span seen in
    micro-batch 1 and replayed in micro-batch 2 must be suppressed by
    the dedup STATE (not just within-batch distinct); every distinct
    span is emitted exactly once, and the retained count equals the
    batch span_dedup's total kept spans over the same docs."""
    from lens_sds_batch_spark.operators.textops import SPAN_W, _tokens, explode_spans, span_dedup

    A, B, C, D, E = (
        " ".join(f"{ch}{i}" for i in range(SPAN_W)) for ch in ("a", "b", "c", "d", "e")
    )
    schema = "doc_id long, text string"
    d = str(tmp_path / "span_src")
    # batch 1: A duplicated WITHIN the batch (docs 0 and 1)
    spark.createDataFrame([(0, f"{A} {B}"), (1, f"{A} {C}")], schema).coalesce(1).write.parquet(d)
    # batch 2: A and B replayed ACROSS batches + two new spans
    spark.createDataFrame([(2, f"{A} {D}"), (3, f"{B} {E}")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    docs = stream.select("doc_id", _tokens(F.col("text")).alias("toks"))
    q = run_to_memory(explode_spans(docs).dropDuplicates(["span_md5"]), "span_dd")
    try:
        rows = spark.table("span_dd").collect()
        hashes = [r["span_md5"] for r in rows]
        assert len(hashes) == len(set(hashes)) == 5  # each distinct span exactly once
        assert {r["span"] for r in rows} == {A, B, C, D, E}
        # batch twin over the same static docs: total kept == distinct spans
        batch_docs = spark.read.parquet(d).select(
            "doc_id", _tokens(F.col("text")).alias("toks")
        )
        kept_total = sum(
            r["spans_kept"] for r in span_dedup(spark, SF_SMOKE, base=batch_docs).collect()
        )
        assert kept_total == 5
    finally:
        q.stop()


def test_span_dedup_stream_watermark_bounded_state(spark, tmp_path):
    """The production form of streaming span dedup: dropDuplicates
    WITHIN WATERMARK bounds the state (plain dropDuplicates grows
    forever).  The tradeoff pinned here: a duplicate arriving while
    the key's state lives is suppressed; once the watermark passes and
    the state is evicted, the same span RE-EMITS — bounded state buys
    at-least-once dedup, not exactly-once."""
    import datetime as dt

    from lens_sds_batch_spark.operators.textops import SPAN_W, _tokens, explode_spans

    A = " ".join(f"a{i}" for i in range(SPAN_W))
    X = " ".join(f"x{i}" for i in range(SPAN_W))
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0, tzinfo=dt.timezone.utc)
    schema = "doc_id long, ts timestamp, text string"
    d = str(tmp_path / "span_wm_src")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)

    write([(0, t0, A)])  # batch 1: A first seen
    stream = spark.readStream.schema(schema).parquet(d)
    docs = stream.select("doc_id", "ts", _tokens(F.col("text")).alias("toks"))
    dedup = (
        explode_spans(docs)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["span_md5"])
    )
    from lens_sds_batch_spark.streaming.pipeline import run_to_memory

    q = run_to_memory(dedup, "span_wm")
    try:
        q.processAllAvailable()
        # batch 2: A again 10 min later (state alive -> suppressed);
        # X at +2h pushes the watermark far past A's expiry
        write([(1, t0 + dt.timedelta(minutes=10), A), (2, t0 + dt.timedelta(hours=2), X)])
        q.processAllAvailable()
        # batch 3: A once more at +2h — state evicted, so it re-emits
        write([(3, t0 + dt.timedelta(hours=2), A)])
        q.processAllAvailable()
        rows = spark.table("span_wm").collect()
        by_doc = sorted((r["doc_id"], r["span"]) for r in rows)
        assert by_doc == [(0, A), (2, X), (3, A)], by_doc
    finally:
        q.stop()


def test_ivf_assign_stream_equals_batch(spark, tmp_path):
    """VERDICT r6 #8: the streaming IVF twin.  Fit stays batch; cell
    ASSIGNMENT is a stateless projection that must produce bucket-
    identical results on a readStream over the same frames as the
    batch path (same assign_cells code object, but the pin guards the
    stream plumbing: schema declaration, append mode, multi-trigger)."""
    import shutil

    from lens_sds_batch_spark.operators.similarity import assign_cells
    from lens_sds_batch_spark.streaming.pipeline import ivf_assign_stream, run_to_memory

    centers = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [-0.5, -0.5, 0.5]]
    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(3)]) for i in range(60)
    ]
    d = str(tmp_path / "vecs")
    src = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    # two files -> two triggers with maxFilesPerTrigger=1
    src.where(F.col("vec_id") < 30).coalesce(1).write.parquet(d)
    src.where(F.col("vec_id") >= 30).coalesce(1).write.mode("append").parquet(d)

    batch = {
        (r["vec_id"], r["cell"])
        for r in assign_cells(spark.read.parquet(d), centers).collect()
    }
    stream = spark.readStream.schema("vec_id bigint, v array<double>").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = run_to_memory(ivf_assign_stream(stream, centers), "ivf_assigned")
    try:
        got = {
            (r["vec_id"], r["cell"])
            for r in spark.sql("SELECT vec_id, cell FROM ivf_assigned").collect()
        }
        assert got == batch and len(got) == 60
        # every center got at least one member (the fixture is non-vacuous)
        assert len({c for _, c in got}) == len(centers)
    finally:
        q.stop()
    shutil.rmtree(d, ignore_errors=True)


def test_duration_ms_compound_and_units():
    """r8 continuation review: the duration parser must accept what
    Spark's own interval grammar does — compound multi-unit specs and
    weeks — and still reject garbage loudly."""
    from lens_sds_batch_spark.streaming.pipeline import _duration_ms

    assert _duration_ms("1 hour 30 minutes") == 5_400_000
    assert _duration_ms("2 weeks") == 1_209_600_000
    assert _duration_ms("1 day 2 hours 3 minutes 4 seconds") == 93_784_000
    assert _duration_ms("30s") == 30_000
    assert _duration_ms("1.5 hours") == 5_400_000
    # ms-unit specs (r8 advisor regression: the bare-'m' alternative
    # swallowed the 'm' of 'ms' and every millisecond spec raised)
    assert _duration_ms("250 ms") == 250
    assert _duration_ms("250ms") == 250
    assert _duration_ms("5 milliseconds") == 5
    assert _duration_ms("30 millis") == 30
    assert _duration_ms("1 second 250 ms") == 1_250
    with pytest.raises(ValueError):
        _duration_ms("soon")
    with pytest.raises(ValueError):
        _duration_ms("1 hour bananas")
    with pytest.raises(ValueError):
        _duration_ms("")


def test_duration_ms_every_spelling_every_spacing():
    """Exhaustive spelling x spacing sweep (r9): the advisor's ms bug
    was an alternation-order interaction invisible to spot checks —
    every accepted unit spelling must parse at the right magnitude
    with and without whitespace, singular and plural."""
    from lens_sds_batch_spark.streaming.pipeline import _duration_ms

    spellings = {
        1: ["ms", "milli", "millis", "millisecond", "milliseconds"],
        1_000: ["s", "sec", "secs", "second", "seconds"],
        60_000: ["m", "min", "mins", "minute", "minutes"],
        3_600_000: ["h", "hr", "hrs", "hour", "hours"],
        86_400_000: ["d", "day", "days"],
        604_800_000: ["w", "week", "weeks"],
    }
    for ms, names in spellings.items():
        for name in names:
            for fmt in ("3{u}", "3 {u}", "  3  {u}  ", "3 {U}"):
                spec = fmt.format(u=name, U=name.upper())
                assert _duration_ms(spec) == 3 * ms, spec
    # compound across every magnitude at once
    assert _duration_ms("1w 1d 1h 1m 1s 1ms") == (
        604_800_000 + 86_400_000 + 3_600_000 + 60_000 + 1_000 + 1
    )


def test_read_event_stream_empty_dir_keeps_attempts_column(spark, tmp_path):
    """The schema-probe fallback (empty/missing dir — a stream seeded
    later, the natural requeue-loop setup) leaves a DDL string, and the
    attempts-column injection must fire on THAT path too — otherwise
    redelivered files lose the column, attempts resets to 0 each loop,
    and max_attempts never binds (r8 advisor finding)."""
    d = tmp_path / "seeded_later"
    d.mkdir()
    stream = read_event_stream(spark, str(d))
    assert "attempts" in stream.schema.fieldNames()
    # and the non-fallback (probed StructType) path still injects it
    src = (
        spark.range(3)
        .selectExpr(
            "id AS event_id",
            "timestamp_micros(id) AS ts",
            "id AS user_id",
            "'x' AS event_type",
            "cast(id as double) AS value",
            "'{}' AS props",
        )
    )
    d2 = tmp_path / "seeded_now"
    src.write.parquet(str(d2))
    stream2 = read_event_stream(spark, str(d2))
    assert "attempts" in stream2.schema.fieldNames()


def test_read_event_stream_glob_metachar_filename(spark, tmp_path):
    """A single-file source whose NAME contains glob metacharacters must
    still stream its rows — un-escaped, `[v2]` becomes a character
    class matching nothing and the stream is silently empty (r8
    continuation review)."""
    import os

    from lens_sds_batch_spark.sources.parquet import load_events

    src = (
        load_events(spark, SF_SMOKE)
        .withColumn("ts", F.expr("timestamp_micros(ts_ns div 1000)"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .limit(25)
    )
    d = tmp_path / "onefile"
    src.coalesce(1).write.parquet(str(d))
    part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
    hostile = tmp_path / "events[v2],{x}.parquet"
    os.rename(d / part, hostile)
    stream = read_event_stream(spark, str(hostile))
    q = run_to_memory(stream, "globbed")
    try:
        assert spark.table("globbed").count() == 25
    finally:
        q.stop()


def test_stateful_user_counts_idle_timeout_runs(spark, stream_dir):
    """The idle_timeout knob arms a real ProcessingTimeTimeout (the old
    timeout= parameter was a silent no-op).  Deterministically asserting
    an eviction needs wall-clock idling between triggers, so this pins
    the wiring: the query runs, emits, and counts accumulate across
    batches exactly as with NoTimeout.

    NB poll-then-stop, NOT processAllAvailable / availableNow +
    awaitTermination: an armed processing-time timer keeps the engine
    scheduling timer batches while any timer is pending, so
    processAllAvailable never returns — and (measured in this sandbox)
    even trigger(availableNow) does NOT terminate, the pending timers
    hold the query open past the data drain.  Polling the sink for the
    expected total is the only shutdown that doesn't depend on timer
    scheduling internals."""
    import time

    from lens_sds_batch_spark.streaming.pipeline import stateful_user_counts

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        stateful_user_counts(stream, idle_timeout="30 minutes")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ustate_t")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        rows = []
        while time.monotonic() < deadline:
            rows = spark.sql(
                "SELECT user_id, max(n_events) AS n FROM ustate_t GROUP BY user_id"
            ).collect()
            if sum(r["n"] for r in rows) == 250:
                break
            time.sleep(1.0)
        assert rows and all(r["n"] >= 1 for r in rows)
        total = sum(r["n"] for r in rows)
        assert total == 250  # 150 + 100 rows across both files, all counted
    finally:
        q.stop()


def test_requeue_loop_recovers_from_crash_before_epoch_effects(spark, tmp_path):
    """Kill-mid-epoch recovery, crash point A (r9 verdict #6): the
    driver dies on the FIRST trigger before the sink applied any
    effect.  A restarted query — fresh sink closure, fresh
    DurableMetrics(path), SAME checkpoint — must replay the
    uncommitted epoch and drain the full feedback loop to the same
    (event_id, route, attempts) triples as the gated batch fixpoint,
    with EXACT metrics: each event acks or dead-letters exactly once,
    and requeue routings equal sum(final_attempts)."""
    from lens_sds_batch_spark.operators.cdc import (
        _RQ_FAIL_MOD,
        _RQ_FATAL_MOD,
        _RQ_MAX_ATTEMPTS,
        _RQ_SUBSET_MOD,
        requeue_routing,
    )
    from lens_sds_batch_spark.sources.parquet import load_events
    from lens_sds_batch_spark.streaming.pipeline import DurableMetrics, requeue_sink

    src, out, dead, cp = (str(tmp_path / d) for d in ("src", "out", "dead", "cp"))
    mpath = str(tmp_path / "metrics.json")
    (
        load_events(spark, SF_SMOKE)
        .where(F.col("event_id") % _RQ_SUBSET_MOD == 0)
        .select("event_id", F.lit(0).alias("attempts"))
        .coalesce(1)
        .write.parquet(src)
    )
    att = F.coalesce(F.col("attempts"), F.lit(0))
    is_ok = att >= F.col("event_id") % _RQ_FAIL_MOD
    is_retryable = F.col("event_id") % _RQ_FATAL_MOD != 0

    def read():
        return (
            spark.readStream.schema("event_id bigint, attempts int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # --- run 1: crash before the sink touches anything ---------------
    def crash(batch_df, epoch_id):
        raise RuntimeError("injected crash before epoch effects")

    q = read().writeStream.option("checkpointLocation", cp).foreachBatch(crash).start()
    with pytest.raises(Exception, match="injected crash"):
        q.processAllAvailable()
    q.stop()

    # --- run 2: recovered driver — fresh closures, same checkpoint ---
    metrics = DurableMetrics(mpath)  # reloads whatever the crash left (nothing)
    sink = requeue_sink(
        out, dead, src, is_ok, is_retryable,
        max_attempts=_RQ_MAX_ATTEMPTS, metrics=metrics,
    )
    q = read().writeStream.option("checkpointLocation", cp).foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    def final(path: str, route: str) -> set:
        return {
            (r["event_id"], route, int(r["attempts"] or 0))
            for r in spark.read.parquet(path).collect()
        }

    streamed = final(out, "ok") | final(dead, "dead")
    batch = {
        (r["event_id"], r["route"], int(r["final_attempts"]))
        for r in requeue_routing(spark, SF_SMOKE).collect()
    }
    assert len(batch) > 0 and streamed == batch
    n_ok = sum(1 for (_, route, _) in batch if route == "ok")
    n_dead = sum(1 for (_, route, _) in batch if route == "dead")
    n_requeues = sum(a for (_, _, a) in batch)
    assert metrics.get("ok") == n_ok
    assert metrics.get("dead") == n_dead
    assert metrics.get("requeued") == n_requeues


def test_requeue_loop_replayed_epoch_counts_once(spark, tmp_path):
    """Kill-mid-epoch recovery, crash point B: the sink fully applied
    epoch 0 (files appended, metrics tallied + flushed) and the driver
    died BEFORE the epoch committed.  The restart replays epoch 0:
    the at-least-once file appends duplicate (documented contract,
    harmless under set semantics / downstream LWW), but the reloaded
    DurableMetrics must recognize the epoch key and count the replay
    ZERO times.  Failure model is retry-free (nothing retryable) so the
    replayed epoch's duplicate appends cannot re-arm the feedback edge
    and the expected tally is exact."""
    from lens_sds_batch_spark.streaming.pipeline import DurableMetrics, requeue_sink

    src, out, dead, cp = (str(tmp_path / d) for d in ("src", "out", "dead", "cp"))
    mpath = str(tmp_path / "metrics.json")
    rows = [(i, 0) for i in range(40)]
    spark.createDataFrame(rows, "event_id bigint, attempts int").coalesce(1).write.parquet(src)
    is_ok = F.col("event_id") % 4 == 0  # 10 ok / 30 dead, all on first touch
    is_retryable = F.lit(False)

    def read():
        return (
            spark.readStream.schema("event_id bigint, attempts int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # --- run 1: sink applies fully, then the "process" dies ----------
    metrics1 = DurableMetrics(mpath)
    real = requeue_sink(out, dead, src, is_ok, is_retryable, metrics=metrics1)

    def crash_after(batch_df, epoch_id):
        real(batch_df, epoch_id)
        raise RuntimeError("injected crash after epoch effects")

    q = read().writeStream.option("checkpointLocation", cp).foreachBatch(crash_after).start()
    with pytest.raises(Exception, match="injected crash"):
        q.processAllAvailable()
    q.stop()

    # --- run 2: recovery — reloaded metrics, fresh sink closure ------
    metrics = DurableMetrics(mpath)
    sink = requeue_sink(out, dead, src, is_ok, is_retryable, metrics=metrics)
    q = read().writeStream.option("checkpointLocation", cp).foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    out_rows = spark.read.parquet(out).collect()
    dead_rows = spark.read.parquet(dead).collect()
    # The replay REALLY re-appended (proves the recovery path ran) ...
    assert len(out_rows) == 20 and len(dead_rows) == 60
    # ... the logical result is the clean one ...
    assert {(r["event_id"], "ok") for r in out_rows} == {(i, "ok") for i in range(0, 40, 4)}
    assert len({r["event_id"] for r in dead_rows}) == 30
    # ... and the replayed epoch was counted exactly once.
    assert metrics.get("ok") == 10
    assert metrics.get("dead") == 30
    assert metrics.get("requeued", 0) == 0


def test_foreach_batch_manifest_merge_into(spark, stream_dir, tmp_path):
    """The bucketed merge_into as a streaming foreachBatch sink — the
    designed 100 TB, object-store-safe command-sink shape (each
    micro-batch rewrites only its touched buckets and commits one
    manifest).  Every micro-batch (including the first) reports
    parquet-manifest, the sequence advances once per data-bearing
    trigger, and the resolved state equals the single-batch apply_lww
    over the full source: LWW per user_id by (ts, event_id), at-least-
    once redelivery collapsed by the deterministic ordering."""
    from lens_sds_batch_spark.plans.merge import (
        apply_lww,
        merge_into,
        read_merged_table,
    )

    target = str(tmp_path / "manifest_entity_state")
    results = []

    def sink(batch_df, _epoch):
        res = merge_into(
            spark, target, batch_df,
            keys=["user_id"],
            order_cols=["ts", "event_id"],
            is_delete=F.lit(False),
            num_buckets=8,
            protocol="manifest",
        )
        results.append(res)

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    assert len(results) >= 2
    assert all(r["engine"] == "parquet-manifest" for r in results)
    seqs = [r["seq"] for r in results if r["touched_buckets"]]
    assert seqs == list(range(1, len(seqs) + 1))  # one commit per data trigger

    got = read_merged_table(spark, target).select("user_id", "event_id", "ts")
    want = apply_lww(
        spark.read.parquet(stream_dir),
        keys=["user_id"],
        order_cols=[F.col("ts"), F.col("event_id")],
        is_delete=F.lit(False),
    ).select("user_id", "event_id", "ts")
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_stream_sink_with_downstream_replica_per_epoch(
    spark, stream_dir, tmp_path
):
    """r14: the full event → store → downstream chain — a foreachBatch
    manifest sink whose EVERY epoch is followed by a
    ``replicate_changes`` step onto a second table.  Each step applies
    only that epoch's net feed (O(changed buckets), never a full
    re-read), and the replica equals the source at the end.  The
    replicate read takes no lease, so it coexists with the stream's
    writer cadence by construction."""
    from lens_sds_batch_spark.plans.merge import (
        merge_into,
        read_merged_table,
        replicate_changes,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    syncs = []

    def sink(batch_df, _epoch):
        merge_into(
            spark, src, batch_df,
            keys=["user_id"],
            order_cols=["ts", "event_id"],
            is_delete=F.lit(False),
            num_buckets=8,
            protocol="manifest",
        )
        syncs.append(replicate_changes(spark, src, dst))

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    data_syncs = [s for s in syncs if s["rows_applied"] > 0]
    assert len(data_syncs) >= 2  # one per data-bearing epoch
    assert all(not s["bootstrap"] for s in syncs)
    # each step consumed exactly the previous step's high-water mark
    for prev, cur in zip(syncs, syncs[1:]):
        assert cur["from_seq"] == prev["to_seq"]
    cols = ["user_id", "event_id", "ts"]
    src_df = read_merged_table(spark, src).select(*cols)
    dst_df = read_merged_table(spark, dst).select(*cols)
    assert src_df.exceptAll(dst_df).isEmpty() and dst_df.exceptAll(src_df).isEmpty()


def test_stream_sink_with_maintained_aggregate_per_epoch(
    spark, stream_dir, tmp_path
):
    """r14: the streaming IVM chain — a foreachBatch manifest sink
    whose every epoch is followed by a ``refresh_aggregate`` step, so
    a per-event_type rollup of the entity table stays exact while the
    stream runs.  Each refresh applies only that epoch's net feed as
    group deltas (O(changed groups), never an entity re-read), the
    cursor rides each commit (exactly-once across epoch replays by
    construction), and at the end the maintained aggregate equals a
    direct groupBy of the resolver read."""
    from lens_sds_batch_spark.plans.ivm import read_aggregate, refresh_aggregate
    from lens_sds_batch_spark.plans.merge import merge_into, read_merged_table

    src = str(tmp_path / "entity")
    agg = str(tmp_path / "agg")
    aggs = {"n_users": ("count", "*"), "sum_eid": ("sum", "event_id")}
    refreshes = []

    def sink(batch_df, _epoch):
        merge_into(
            spark, src, batch_df,
            keys=["user_id"],
            order_cols=["ts", "event_id"],
            is_delete=F.lit(False),
            num_buckets=8,
            protocol="manifest",
        )
        refreshes.append(refresh_aggregate(
            spark, src, agg, group_keys=["event_type"], aggs=aggs,
        ))

    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    assert len(refreshes) >= 2
    assert refreshes[0]["bootstrap"] and not any(
        r["bootstrap"] for r in refreshes[1:]
    )
    # each refresh consumed exactly the previous high-water mark
    for prev, cur in zip(refreshes, refreshes[1:]):
        assert cur["from_seq"] == prev["to_seq"]
    want = read_merged_table(spark, src).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.coalesce(F.col("event_id"), F.lit(0))).alias("sum_eid"),
    )
    got = read_aggregate(spark, agg)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_correlate_stream_null_fields_match_batch(spark, tmp_path):
    """r11 review: a NULL seq used to be a poison pill (int(NaN) raised
    inside the state fn, killing the query on every replay), NULL name
    coined the literal string 'None', and NULL ts diverged from batch.
    The state fn now mirrors Spark's struct NULLS-FIRST ordering — a
    NULL field sorts smallest, exactly min(struct(ts, seq, name)) —
    and the streamed winners must equal the batch twin's on a
    NULL-bearing crafted stream."""
    import datetime as dt

    from lens_sds_batch_spark.plans.correlate import first_event_name_agg
    from lens_sds_batch_spark.streaming.pipeline import correlate_stream, run_to_memory

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    schema = "cid string, ts timestamp, seq bigint, name string"
    rows = [
        ("CN1", base, 2, "real"), ("CN1", base, None, "nullseq"),  # NULL seq wins
        ("CN2", base, 1, "aa"), ("CN2", base, 1, None),            # NULL name wins
        ("CN3", base + dt.timedelta(minutes=9), 1, "x"),
        ("CN3", base, 7, "y"),                                     # plain min
    ]
    d = str(tmp_path / "null_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    q = run_to_memory(correlate_stream(stream, watermark="2 hours"), "corr_null",
                      output_mode="update")
    try:
        streamed = spark.sql(
            "SELECT cid, min(struct(ts, seq, name)).name AS name "
            "FROM corr_null GROUP BY cid"
        )
        got = {r["cid"]: r["name"] for r in streamed.collect()}
    finally:
        q.stop()
    batch = first_event_name_agg(spark.read.parquet(d), ["ts", "seq"])
    want = {r["cid"]: r["name"] for r in batch.collect()}
    assert got == want
    assert got["CN1"] == "nullseq" and got["CN2"] is None and got["CN3"] == "y"


@pytest.mark.parametrize("flavor", ["ntz", "nanos_long"])
def test_requeue_feedback_preserves_at_rest_ts_type(spark, tmp_path, flavor):
    """r11 review: the feedback edge appends CANONICALIZED rows into the
    stream's own source dir — with a ts-bearing schema the redelivered
    file's parquet ts type used to differ from the pinned stream
    schema.  The nanos-long seed (the driver's TIMESTAMP(NANOS) shape)
    REPRODUCIBLY corrupted: the canonical micros value was re-read as
    nanos and re-divided by 1000, timestamps 1000x off (this test fails
    without the fix).  The NTZ seed happens to read back benignly in
    THIS environment (same INT64 micros physical, UTC session makes the
    LTZ/NTZ annotations coincide) — its leg pins the annotation hygiene
    so a non-UTC session or stricter reader cannot regress it.
    requeue_sink now casts ts back to the probed at-rest type; the loop
    must drain to quiescence with correct attempts AND round-tripped
    timestamps."""
    from lens_sds_batch_spark.streaming.pipeline import read_event_stream, requeue_sink

    src, out, dead = (str(tmp_path / p) for p in ("src", "out", "dead"))
    base_us = 1_767_225_600_000_000  # 2026-01-01T00:00Z in epoch micros
    seed = spark.range(12).select(
        F.col("id").alias("event_id"),
        F.expr(f"timestamp_micros({base_us} + id * 1000000)").alias("ts"),
    )
    if flavor == "ntz":
        seed = seed.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    else:  # the driver's TIMESTAMP(NANOS) files read as epoch-nanos LONGs
        seed = seed.withColumn("ts", F.expr("unix_micros(ts) * 1000"))
    seed.coalesce(1).write.parquet(src)

    att = F.coalesce(F.col("attempts"), F.lit(0))
    sink = requeue_sink(
        out, dead, src,
        is_ok=att >= (F.col("event_id") % 3),   # id%3 retries before ok
        is_retryable=F.lit(True),
        max_attempts=5,
    )
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()  # dies here pre-fix (NTZ) or corrupts (nanos)
    q.stop()

    got = spark.read.parquet(out)
    rows = {r["event_id"]: (r["attempts"] or 0, r["ts"]) for r in got.collect()}
    assert set(rows) == set(range(12))
    for eid, (attempts, ts) in rows.items():
        assert attempts == eid % 3, (eid, attempts)
        # canonicalized LTZ micros, exactly the seeded instant
        assert int(ts.timestamp() * 1_000_000) == base_us + eid * 1_000_000, (eid, ts)


def test_requeue_ts_probe_refuses_corrupt_dir(spark, tmp_path):
    """Only a missing/empty requeue dir means "the stream ran on the
    pinned fallback schema".  A corrupt footer must not be read the
    same way: redelivered rows would keep their canonical ts and land
    1000x off (nanos seed) or fail the reader (NTZ seed)."""
    from lens_sds_batch_spark.streaming.pipeline import _decanonicalize_requeue_ts

    rows = spark.range(2).select(F.col("id").alias("event_id"), F.current_timestamp().alias("ts"))
    assert _decanonicalize_requeue_ts(rows, str(tmp_path / "absent"), {}) is rows
    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-0.parquet").write_text("not a parquet file")
    cache: dict = {}
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER|not a Parquet file"):
        _decanonicalize_requeue_ts(rows, str(bad), cache)
    assert "type" not in cache


def test_read_event_stream_accepts_bare_relative_file(spark, tmp_path, monkeypatch):
    """r11 review: a bare relative filename (dirname == '') used to
    glob-ify to the root-anchored '/{name}' — a silently EMPTY stream."""
    from lens_sds_batch_spark.streaming.pipeline import read_event_stream, run_to_memory

    d = str(tmp_path)
    spark.range(5).select(F.col("id").alias("event_id")).coalesce(1).write.parquet(
        f"{d}/rel_events.parquet"
    )
    import os
    import shutil

    # collapse the parquet DIR to one bare FILE in cwd (the isfile branch)
    part = next(
        f for f in os.listdir(f"{d}/rel_events.parquet") if f.endswith(".parquet")
    )
    shutil.copyfile(f"{d}/rel_events.parquet/{part}", f"{d}/events_flat.parquet")
    monkeypatch.chdir(d)
    stream = read_event_stream(spark, "events_flat.parquet", max_files_per_trigger=1)
    q = run_to_memory(stream, "rel_stream")
    try:
        q.processAllAvailable()
        assert spark.table("rel_stream").count() == 5  # was 0 pre-fix
    finally:
        q.stop()
