"""Continuous aggregate: a streaming hourly rollup materialized
incrementally via ``foreachBatch`` upserts (EXT; the streaming twin
of operators/maintenance.rollup_incremental).

Division of labor, which is the design point:

- The **state store** does the incremental math. In ``update``
  output mode the windowed aggregation's state holds the full
  (count, sum) per open window; each micro-batch emits only the
  windows it touched, already re-aggregated over everything seen.
- The **sink** therefore does a pure keyed UPSERT (last write wins),
  never arithmetic. A sink that added deltas would double-count on
  micro-batch replay; upsert-by-key is what makes the pipeline
  effectively exactly-once on an at-least-once channel.
- The **watermark** bounds both: window state is dropped once the
  watermark passes (streaming/events.py reasoning), and closed
  windows stop being re-emitted.

At 100 TB/day the sink's upsert target is a keyed table (Delta
MERGE, an RDBMS, a KV store) — |open windows| rows per batch, not
|events|. Two sinks are provided:

- ``run_continuous_rollup``: in-memory dict view — the bounded test
  harness stand-in (|hours|x|event_types| keys by construction).
- ``run_continuous_rollup_snapshots``: the durable sink. Each
  micro-batch is one stamped MERGE commit into a snapshot-versioned
  table (snapshots.py), and a replayed batch id is skipped — Delta's
  streaming-sink transaction on plain parquet. Read the rollup with
  ``snapshots.read_snapshot``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.streaming.events import (
    WATERMARK_DELAY,
    _event_source,
    _max_files_option,
    _run_available_now,
)


def hourly_rollup_updates(
    spark: SparkSession, events_dir: str, **source_options: str
) -> DataFrame:
    """The update-mode streaming aggregation: per (hour, event_type)
    running (n_events, sum_value) — decimal-accumulated like the
    batch twin so merged results compare exactly."""
    src = _event_source(spark, events_dir, **source_options)
    return (
        src.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value")
    )


def run_continuous_rollup(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
    view: dict | None = None,
) -> tuple[dict, int, int]:
    """Drive the continuous rollup with availableNow and a
    foreachBatch upsert sink; returns (materialized_view, n_batches,
    n_input_rows).

    ``max_files_per_trigger=1`` forces one micro-batch per source
    file, so a multi-file directory genuinely exercises incremental
    updates (later batches overwrite earlier keys with re-aggregated
    values) rather than collapsing into one batch.

    ``checkpoint_dir`` + a carried-over ``view`` dict model the
    RESTART path: the source offsets, watermark, and window state
    all live in the checkpoint, so a second availableNow run on the
    same checkpoint ingests ONLY files that arrived since the last
    run and keeps upserting the same materialized view —
    effectively-exactly-once across process restarts
    (tests/test_streaming.py asserts both the no-reprocessing and
    the final-equality halves of that claim).
    """
    view = {} if view is None else view

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # Bounded by construction: |hours| x |event_types| keys — the
        # production form of this sink is
        # run_continuous_rollup_snapshots. The cap turns a silently
        # unbounded driver collect (if a caller ever points this demo
        # sink at a non-rollup stream) into a loud error instead of
        # an OOM.
        rows = batch_df.limit(_DICT_SINK_CAP + 1).collect()
        if len(rows) > _DICT_SINK_CAP:
            raise RuntimeError(
                f"dict-sink batch exceeds {_DICT_SINK_CAP} rows — this "
                "demo sink is for bounded rollups; use "
                "run_continuous_rollup_snapshots for real volumes"
            )
        for r in rows:
            view[(r.hour, r.event_type)] = (r.n_events, r.sum_value)

    n_batches, n_input = _drive(
        spark, events_dir, upsert, max_files_per_trigger, checkpoint_dir
    )
    return view, n_batches, n_input


def _drive(
    spark: SparkSession,
    events_dir: str,
    sink,
    max_files_per_trigger: int | None,
    checkpoint_dir: str | None,
) -> tuple[int, int]:
    """Run the update-mode rollup with ``availableNow`` into the given
    foreachBatch sink; returns (n_batches, n_input_rows).

    Input rows are summed from the query's progress buffer, whose
    retention defaults to 100 entries — an availableNow run with
    ``maxFilesPerTrigger=1`` over >100 files would silently
    undercount, so the buffer is sized to cover every micro-batch of
    this run before the query starts."""
    batches = {"n": 0}

    def counted(batch_df: DataFrame, batch_id: int) -> None:
        batches["n"] += 1
        sink(batch_df, batch_id)

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    updates = hourly_rollup_updates(
        spark, events_dir, **_max_files_option(max_files_per_trigger)
    )
    q = _run_available_now(updates, "update", counted, checkpoint_dir)
    n_input = sum(int(p["numInputRows"]) for p in q.recentProgress)
    return batches["n"], n_input


ROLLUP_KEYS = ("hour", "event_type")

#: Safety bound for the in-memory dict demo sink (run_continuous_rollup).
_DICT_SINK_CAP = 100_000


def run_continuous_rollup_snapshots(
    spark: SparkSession,
    events_dir: str,
    table_dir: str,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[int, int]:
    """Continuous rollup committing each micro-batch as a REAL MERGE
    into a snapshot-versioned table (snapshots.py); returns
    (n_batches, n_input_rows).

    This is the durable form of run_continuous_rollup's dict view:
    every micro-batch is one atomic copy-on-write merge commit keyed
    by ROLLUP_KEYS, so readers always see a complete consistent
    rollup (and can time travel across batch boundaries). Exactly-once comes from the
    manifest op stamp: the sink writes ``stream-merge:batch={id}``
    and SKIPS any batch id already committed — a foreachBatch retry
    after a crash between commit and checkpoint advance becomes a
    no-op, the Delta streaming-sink txn protocol on plain parquet.
    """
    from ensembl_lakehouse_spark import snapshots as SN

    # Load the committed-stamp set ONCE per run and extend it locally
    # per commit: checking membership via committed_ops() on every
    # micro-batch re-reads every retained manifest (O(versions) JSON
    # opens per batch, O(N²) per run) — a long-lived table made each
    # commit slower as history grew. A restart reloads the set from
    # disk, so the exactly-once property is unchanged.
    committed: set[str] = set(SN.committed_ops(table_dir))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        stamp = f"stream-merge:batch={batch_id}"
        if stamp in committed:
            return  # replayed batch: already durably committed
        if batch_df.isEmpty():
            # watermark-advance batches emit no updates; skipping
            # them (rather than stamping) is safe — replaying an
            # empty batch is itself a no-op
            return
        # FILE-SCOPED merge on the window-start hour: a micro-batch
        # only re-emits windows the watermark still holds open, so
        # its hour range is narrow and the rewrite touches O(open
        # windows) files, never the table's history — the manifest's
        # temporal min/max stats (epoch-micros normalized) prune
        # every closed-hour file. Composes round 5's scoped MERGE
        # with the exactly-once op stamps.
        SN.merge_snapshot(
            batch_df.sparkSession, table_dir, batch_df,
            key=list(ROLLUP_KEYS), op=stamp, scope_by="hour",
        )
        committed.add(stamp)

    return _drive(spark, events_dir, merge_batch, max_files_per_trigger, checkpoint_dir)
