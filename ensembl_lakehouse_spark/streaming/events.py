"""Structured Streaming over the ``events`` table (SURVEY §2
Streaming EXT).

The reference has no streaming at all (SURVEY §2: "ABSENT"; its
async submit→poll lifecycle at app/main.py:478-485,263-277 is the
closest analog). This module is the promised streaming twin of the
batch ``operators/relational.events_hourly`` plan: same grouping,
same aggregates, expressed as an incremental query with a watermark
so state is bounded.

Design:

- **Source**: ``readStream`` over a parquet directory with an
  explicit schema (streaming sources cannot infer). The fixture's
  ``ts`` physical encoding has varied across generations
  (TIMESTAMP(NANOS) vs TIMESTAMP(MICROS)); we peek at the batch-
  observed schema and normalize with the same dispatch as the batch
  loader (sources/tables.py:normalize_event_ts), so the stream and
  the batch twin agree bit-for-bit on any fixture generation.
- **Watermark** bounds state: ``withWatermark("ts", ...)`` lets the
  engine drop window state once event time passes window_end +
  delay — the difference between O(open windows) and O(all time)
  state at 100 TB/day ingest. Late rows beyond the delay are
  dropped (counted against correctness consciously, not silently:
  the delay is a named constant).
- **Sink**: ``availableNow`` trigger + foreachBatch gives exactly
  the batch semantics over the files present — which is what makes
  the stream == batch equivalence *testable* (tests/
  test_streaming.py asserts the outputs match row-for-row).
  A live deployment swaps the trigger for a processing-time one and
  the sink for kafka/delta; the query graph is unchanged.
- countDistinct is not supported by incremental aggregation, so the
  stream reports ``approx_count_distinct`` for users — the
  documented, scale-honest substitute (exact distinct over an
  unbounded stream requires O(users) state per window). The
  equivalence test therefore compares n_events/sum_value exactly
  and n_users within the HLL error bound.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

#: Allowed event-time lateness before window state is finalized.
WATERMARK_DELAY = "2 hours"


def observed_raw_schema(spark: SparkSession, events_dir: str) -> StructType:
    """Schema the parquet files actually carry. Streaming sources
    cannot infer, and the fixture's ``ts`` physical type has shipped
    as both TIMESTAMP(NANOS) (→ bigint under the nanosAsLong legacy
    conf) and TIMESTAMP(MICROS), so we peek with a batch read."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(events_dir).schema


def as_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP (instant), dispatching on the
    observed type like sources/tables.normalize_event_ts. Watermarks
    require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ);
    the session timezone is pinned to UTC (session.py) so the
    wall-clock fields equal the batch loader's NTZ values."""
    dt = df.schema[col].dataType.simpleString()
    if dt == "bigint":
        return df.withColumn(
            col,
            F.expr(f"timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP '1970-01-01 00:00:00')"),
        )
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _event_source(spark: SparkSession, events_dir: str, **options: str) -> DataFrame:
    reader = spark.readStream.schema(observed_raw_schema(spark, events_dir))
    for k, v in options.items():
        reader = reader.option(k, v)
    return as_event_time(reader.parquet(events_dir))


def _max_files_option(max_files_per_trigger: int | None) -> dict[str, str]:
    """Source options that cap each micro-batch at
    ``max_files_per_trigger`` files (none when it is None)."""
    if max_files_per_trigger is None:
        return {}
    return {"maxFilesPerTrigger": str(max_files_per_trigger)}


def _run_available_now(
    stream: DataFrame,
    output_mode: str,
    sink: str | Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Run ``stream`` over every file present with the ``availableNow``
    trigger and wait for it to finish — the package's one launcher.

    ``sink`` is either a memory-table name (read the result back with
    ``spark.table(sink)``) or a ``foreachBatch`` function. With a
    ``checkpoint_dir`` a later run on the same directory resumes from
    this run's source offsets and operator state. Returns the finished
    query, whose ``recentProgress`` a caller may read."""
    writer = stream.writeStream.outputMode(output_mode)
    if isinstance(sink, str):
        writer = writer.format("memory").queryName(sink)
    else:
        writer = writer.foreachBatch(sink)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def load_events_batch(spark: SparkSession, events_dir: str) -> DataFrame:
    """Batch read of the same files with the identical ``ts``
    normalization — the shared base for the batch-equivalence
    oracles in tests/test_streaming.py and streaming/joins.py."""
    raw = spark.read.schema(observed_raw_schema(spark, events_dir)).parquet(events_dir)
    return as_event_time(raw)


def hourly_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation with a watermark —
    the incremental form of ``relational.events_hourly``.

    Output columns mirror the batch twin (hour, event_type,
    n_events, sum_value, n_users) so the two are directly
    comparable; sum_value uses the same DECIMAL(12,2) accumulate →
    DOUBLE pattern for partition-order determinism.
    """
    src = _event_source(spark, events_dir)
    return (
        src.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.approx_count_distinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value", "n_users")
    )


def sliding_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Sliding 2-hour window every 30 minutes — the overlapping-
    window variant (each event contributes to 4 windows; state is
    4× the tumbling case, still bounded by the watermark)."""
    src = _event_source(spark, events_dir)
    return (
        src.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "2 hours", "30 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )


def session_stream(spark: SparkSession, events_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge
    into one session (the third window family SURVEY §7 promises).
    Session state merges incrementally and is finalized by the
    watermark; ``F.session_window`` evaluates identically in batch,
    which is how tests/test_streaming.py cross-checks it."""
    src = _event_source(spark, events_dir)
    return (
        src.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_hourly_to_memory(
    spark: SparkSession, events_dir: str, table_name: str = "events_hourly_stream"
) -> DataFrame:
    """Run the hourly stream with the availableNow trigger into an
    in-memory complete-mode sink and return the result DataFrame.
    This is the test/demo harness; production would writeStream to
    delta/kafka with a processing-time trigger."""
    _run_available_now(hourly_stream(spark, events_dir), "complete", table_name)
    return spark.table(table_name)
