"""Streaming deduplication (EXT X1 in streaming form).

The batch dedup operators (operators/dedup.py) answer "which rows
are duplicates"; an ingest pipeline needs the streaming form: an
at-least-once source (kafka redelivery, file-source replay, upstream
retry) emits the same record more than once, and the stream must
pass each record through exactly once WITHOUT holding unbounded
state.

``dropDuplicatesWithinWatermark`` is the Spark-native answer: dedup
state for a key is dropped once the watermark passes the key's
event time + delay, so state is O(events within the lateness
window), not O(all events ever) — the only shape that survives
100 TB/day. The tradeoff is explicit: a duplicate arriving later
than WATERMARK_DELAY after the original is NOT suppressed. That is
the documented at-least-once contract, the same reasoning as the
windowed aggregations' late-row drop (streaming/events.py).

The test harness (tests/test_streaming.py) simulates redelivery by
unioning the source with itself — every event delivered twice —
and asserts the deduped stream equals the batch-distinct row set
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ensembl_lakehouse_spark.streaming.events import (
    WATERMARK_DELAY,
    _event_source,
    _run_available_now,
)


def dedup_stream(spark: SparkSession, events_dir: str, redeliver: bool = False) -> DataFrame:
    """Exactly-once pass-through of an at-least-once event stream:
    duplicates of ``event_id`` arriving within WATERMARK_DELAY of
    the first delivery are suppressed.

    ``redeliver=True`` unions the source with itself — the
    every-record-delivered-twice worst case used by the equivalence
    test. State: one entry per event_id seen in the last
    WATERMARK_DELAY of event time, evicted by the watermark.
    """
    src = _event_source(spark, events_dir)
    if redeliver:
        src = src.unionByName(_event_source(spark, events_dir))
    return (
        src.withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def run_dedup_to_memory(
    spark: SparkSession,
    events_dir: str,
    table_name: str = "events_dedup_stream",
    redeliver: bool = True,
) -> DataFrame:
    """Run the dedup stream (availableNow, append mode — dedup is a
    row-level operator, so append is the natural output mode) into a
    memory sink and return the result DataFrame."""
    _run_available_now(
        dedup_stream(spark, events_dir, redeliver=redeliver), "append", table_name
    )
    return spark.table(table_name)
