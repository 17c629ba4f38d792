"""Stream-static enrichment join (EXT; SURVEY §2 Streaming family):
a live event stream decorated with a slowly-changing dimension.

The fourth canonical streaming join family, next to stream-stream
(joins.py), windowed agg (events.py), and arbitrary state
(stateful.py): every event picks up its user's profile attributes
(``customer`` keyed by ``user_id = c_custkey``). This is the
enrichment step in front of nearly every production scoring or
feature pipeline.

Why stream-static is the EASY join (and why no watermark appears):
the static side is a bounded table, so the engine needs NO join
state at all — each micro-batch hash-joins against the current
static relation and emits; nothing buffers, nothing waits, append
mode is legal without event-time bounds. The static side is
re-evaluated per micro-batch, which is exactly the
slowly-changing-dimension semantics you want: update the dimension
table between batches and later events see the new attributes.

At 100 TB/day: the dimension is the broadcast side when it fits
(per-batch broadcast hash join — zero shuffle of the stream), else
a pre-bucketed table co-partitioned with the stream's shuffle. The
stream side never re-shuffles for the join here because the join is
per-micro-batch local.

Batch equivalence (tests/test_streaming.py): the identical join +
projection evaluated in batch over the same files must produce the
same rows exactly — no aggregation, no floats, exact set equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.sources.tables import load_table
from ensembl_lakehouse_spark.streaming.events import (
    _event_source,
    _run_available_now,
    load_events_batch,
)


def _customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("user_segment"),
        F.col("c_nationkey").alias("user_nation"),
    )


def _project(joined: DataFrame) -> DataFrame:
    return joined.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "user_name",
        "user_segment",
        "user_nation",
    )


def enriched_stream(
    spark: SparkSession, events_dir: str, sf_dir: str
) -> DataFrame:
    """Streaming events inner-joined to the static customer
    dimension on ``user_id = c_custkey``; broadcast-hinted — the
    dimension is bounded, so each micro-batch does a local broadcast
    hash join and the stream never shuffles."""
    src = _event_source(spark, events_dir)
    dim = _customer_dim(spark, sf_dir)
    return _project(
        src.join(F.broadcast(dim), src.user_id == dim.c_custkey, "inner")
    )


def enriched_batch(
    spark: SparkSession, events_dir: str, sf_dir: str
) -> DataFrame:
    """Batch twin over the same files with the same join — the
    correctness oracle for the streaming enrichment."""
    src = load_events_batch(spark, events_dir)
    dim = _customer_dim(spark, sf_dir)
    return _project(
        src.join(F.broadcast(dim), src.user_id == dim.c_custkey, "inner")
    )


def run_enriched_to_memory(
    spark: SparkSession,
    events_dir: str,
    sf_dir: str,
    table_name: str = "enriched_stream",
) -> DataFrame:
    _run_available_now(
        enriched_stream(spark, events_dir, sf_dir), "append", table_name
    )
    return spark.table(table_name)
