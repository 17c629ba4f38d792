"""Stream-stream interval join (SURVEY §2 Streaming EXT): click →
purchase attribution.

Joins two live streams of the events table: every (click, purchase)
pair for the same user where the purchase lands within
ATTRIBUTION_WINDOW after the click — the ad-attribution /
conversion-tracking shape.

Why this is the hard streaming case (and why the watermarks are
mandatory, not hygiene): a stream-stream join must buffer BOTH
sides, because a future row of either stream may still match an old
row of the other. The interval condition + both-side watermarks
give the engine an eviction proof: a click older than watermark −
ATTRIBUTION_WINDOW can never match a new purchase, so its state is
dropped. Without the interval bound in the join condition the state
is unbounded and Spark rejects append-mode output.

Batch equivalence (tests/test_streaming.py): the identical join
predicate evaluated in batch must produce exactly the same pairs —
no aggregation, no floats, so the comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.streaming.events import (
    WATERMARK_DELAY,
    _event_source,
    _run_available_now,
)

ATTRIBUTION_WINDOW = "1 hour"


def _sides(src: DataFrame) -> tuple[DataFrame, DataFrame]:
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return clicks, purchases


_JOIN_COND = (
    "c_user = p_user AND purchase_ts >= click_ts "
    f"AND purchase_ts <= click_ts + INTERVAL {ATTRIBUTION_WINDOW}"
)


def attribution_join(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming click→purchase pairs within the attribution
    window; watermarks on both event-time columns bound the join
    state (see module docstring)."""
    clicks, purchases = _sides(_event_source(spark, events_dir))
    return (
        clicks.withWatermark("click_ts", WATERMARK_DELAY)
        .join(
            purchases.withWatermark("purchase_ts", WATERMARK_DELAY),
            F.expr(_JOIN_COND),
            "inner",
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "click_ts",
            "purchase_id",
            "purchase_ts",
        )
    )


def attribution_join_batch(spark: SparkSession, events_dir: str) -> DataFrame:
    """Batch twin over the same files with the same predicate — the
    correctness oracle for the streaming join."""
    from ensembl_lakehouse_spark.streaming.events import load_events_batch

    clicks, purchases = _sides(load_events_batch(spark, events_dir))
    return clicks.join(purchases, F.expr(_JOIN_COND), "inner").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )


def run_attribution_to_memory(
    spark: SparkSession, events_dir: str, table_name: str = "attribution_stream"
) -> DataFrame:
    _run_available_now(attribution_join(spark, events_dir), "append", table_name)
    return spark.table(table_name)
