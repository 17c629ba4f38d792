"""Streaming trending top-K: per sliding window, the K most frequent
event types — the "what's hot right now" rollup every event platform
serves (and, on a doc stream, the trending-topics feed a crawler
prioritizes by).

Structured Streaming cannot rank inside the stream (window functions
over streaming aggregates are unsupported — ranking needs the whole
window's counts, which only exist once the watermark closes it), so
the canonical split is:

- IN the stream: the watermarked sliding-window count aggregate
  (events.sliding_stream) — incremental, state bounded by the
  watermark;
- AT the sink boundary: rank-and-truncate per window. Here that is
  one window function over the completed count table; in production
  the same expression runs in ``foreachBatch`` against each update
  set, merging into a top-K store keyed by window.

The stream==batch equivalence test (tests/test_streaming.py pattern)
pins that the streamed counts rank identically to the batch
recompute — the property that makes the split sound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.streaming.events import (
    _run_available_now,
    load_events_batch,
    sliding_stream,
)

#: Entries kept per window.
TREND_K = 3


def rank_trending(counts: DataFrame, k: int = TREND_K) -> DataFrame:
    """Rank-and-truncate per window: deterministic total order
    (count desc, event_type asc) — the sink-side half of the
    trending pipeline, shared by the streaming and batch paths so
    they cannot drift."""
    return (
        counts.withColumn(
            "rank",
            F.expr(
                "row_number() OVER (PARTITION BY win_start "
                "ORDER BY n_events DESC, event_type ASC)"
            ),
        )
        .where(F.col("rank") <= k)
        .select("win_start", "rank", "event_type", "n_events")
        .orderBy("win_start", "rank")
    )


def run_trending_to_memory(
    spark: SparkSession,
    events_dir: str,
    table_name: str = "events_trending_stream",
    k: int = TREND_K,
) -> DataFrame:
    """Drive the sliding count stream (availableNow, complete mode)
    into a memory sink, then rank — returns the top-K table."""
    _run_available_now(sliding_stream(spark, events_dir), "complete", table_name)
    return rank_trending(spark.table(table_name), k)


def trending_batch(spark: SparkSession, events_dir: str, k: int = TREND_K) -> DataFrame:
    """Batch twin: identical sliding windows + the shared ranker."""
    src = load_events_batch(spark, events_dir)
    counts = (
        src.groupBy(
            F.window("ts", "2 hours", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )
    return rank_trending(counts, k)
