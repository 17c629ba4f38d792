"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2 Streaming EXT; the harness for operators that windowed
aggregation can't express).

The demo operator keeps a per-``event_type`` running total (count +
fixed-point value sum) in explicit GroupState and emits the updated
total every micro-batch — the shape of fraud counters, rate
trackers, and per-entity feature accumulators in production
streams.

Why this API and not a window: windows bound state by *time*;
GroupState is for state that lives as long as the key does, with
the operator owning the merge logic. Spark shuffles rows to their
key's partition, hands each key's new rows to the Python function
as Arrow batches with the key's state, and checkpoints state
between batches — so the operator scales exactly like a groupBy
(per-key state, no global coordination) while the merge logic stays
arbitrary Python.

Determinism contract with the batch twin (tests/test_streaming.py):
the value sum is accumulated in integer cents via ``floor(v·100)``
— IEEE multiply + floor is bit-stable in both the pandas path and
the JVM batch expression, and integer addition is associative, so
stream totals equal batch totals regardless of micro-batch count
and row order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ensembl_lakehouse_spark.streaming.events import _event_source, _run_available_now

OUTPUT_SCHEMA = "event_type string, n_events bigint, sum_value_cents bigint"
STATE_SCHEMA = "n bigint, cents bigint"


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    import numpy as np

    for pdf in pdfs:
        n += len(pdf)
        cents += int(np.floor(pdf["value"].to_numpy() * 100).sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"event_type": [key[0]], "n_events": [n], "sum_value_cents": [cents]}
    )


def running_event_totals(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming per-event_type running totals with explicit
    GroupState; emits the current total for every key touched in a
    micro-batch (update semantics)."""
    src = _event_source(spark, events_dir)
    return src.groupBy("event_type").applyInPandasWithState(
        _update_totals,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_totals_to_memory(
    spark: SparkSession, events_dir: str, table_name: str = "event_totals_stream"
) -> DataFrame:
    _run_available_now(running_event_totals(spark, events_dir), "update", table_name)
    return spark.table(table_name)
