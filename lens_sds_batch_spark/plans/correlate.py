"""Command↔event correlation (reference A20/A22/A24).

The reference publishes a command and awaits exactly the FIRST event
whose ``:cid`` equals the command ``:id`` (async pub on :cid,
``broker.clj:102-117,161``).  In DataFrame form: left equi-join
commands→events on ``id = cid`` + first-event-wins window rank;
commands with no event are the timeout path.

At scale this is a plain shuffled equi-join on cid — and in streaming
mode a stream-stream join with watermarks (streaming/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_event_per_cid(events: DataFrame, order_cols: list[Column]) -> DataFrame:
    """Exactly one (the first) event per cid — A20's 'first wins'."""
    w = Window.partitionBy("cid").orderBy(*order_cols)
    return events.withColumn("__rk", F.row_number().over(w)).where(F.col("__rk") == 1).drop("__rk")


def first_event_name_agg(events: DataFrame, order_cols: list[str]) -> DataFrame:
    """first-event-wins as min(struct(order..., name)) — semantically
    identical to the window rank but MAP-SIDE COMBINABLE: each partition
    reduces to one candidate per cid before the shuffle, where the
    window form must shuffle+sort every event.  The scale choice when
    only the winning name is needed (3.2s → sub-second at sf0.1)."""
    packed = F.struct(*[F.col(c) for c in order_cols], F.col("name"))
    return events.groupBy("cid").agg(F.min(packed).getField("name").alias("name"))


def correlate(commands: DataFrame, first_events: DataFrame) -> DataFrame:
    """Left join: every command gets its first event's name or
    'timeout' (the reference's no-reply path)."""
    ev = first_events.select(F.col("cid"), F.col("name").alias("event_name"))
    return commands.join(ev, commands.cmd_id == ev.cid, "left").withColumn(
        "status", F.coalesce(F.col("event_name"), F.lit("timeout"))
    )


def success_set(correlated: DataFrame, success_names: list[str]) -> DataFrame:
    """The ids whose cascade may proceed (gates A11/A12 semi-joins)."""
    return correlated.where(F.col("status").isin(success_names)).select("cmd_id")
