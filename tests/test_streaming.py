"""Streaming/batch equivalence for streaming/events.py.

The batch twin events_hourly is oracle-checked against DuckDB; here
the availableNow streaming run must reproduce it: exact match on
n_events and sum_value, HLL-bounded match on n_users (the stream
reports approx_count_distinct — see the module docstring for why
exact distinct is the wrong call on an unbounded stream)."""

from __future__ import annotations

import shutil

import pytest

from ensembl_lakehouse_spark.operators import relational as R
from ensembl_lakehouse_spark.streaming import events as SE
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # Streaming file sources want a directory of files.
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


def test_stream_matches_batch(spark, events_dir):
    batch = {
        (r.hour, r.event_type): (r.n_events, r.sum_value, r.n_users)
        for r in R.events_hourly(spark, SF_DIR).collect()
    }
    stream = {
        (r.hour, r.event_type): (r.n_events, r.sum_value, r.n_users)
        for r in SE.run_hourly_to_memory(spark, events_dir, "t_stream_eq").collect()
    }
    assert set(stream) == set(batch)
    for key, (n, s, u) in batch.items():
        sn, ss, su = stream[key]
        assert sn == n, key
        assert ss == s, key  # decimal-accumulated: exact
        # approx_count_distinct: rsd default 5%
        assert abs(su - u) <= max(2, 0.15 * u), key


def test_sliding_windows_cover_each_event_four_times(spark, events_dir):
    out = (
        SE.sliding_stream(spark, events_dir)
        .writeStream.format("memory")
        .queryName("t_sliding")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination()
    rows = spark.table("t_sliding").collect()
    total_events = sum(r.n_events for r in rows)
    n_src = spark.read.parquet(events_dir).count()
    # 2h window sliding by 30min -> every event in exactly 4 windows.
    assert total_events == 4 * n_src


def test_session_stream_matches_batch_session_window(spark, events_dir):
    """F.session_window evaluates in batch too — the batch run is
    the oracle for the streaming session assembly."""
    from pyspark.sql import functions as F

    out = (
        SE.session_stream(spark, events_dir)
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination()
    stream = {
        (r.session_start, r.session_end, r.user_id): r.n_events
        for r in spark.table("t_sessions").collect()
    }

    batch_src = SE.load_events_batch(spark, events_dir)
    batch = {
        (r.session_start, r.session_end, r.user_id): r.n_events
        for r in batch_src.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
        .collect()
    }
    assert stream == batch


def test_stateful_running_totals_match_batch(spark, events_dir):
    """applyInPandasWithState totals must equal the batch groupBy —
    the fixed-point (floor cents) contract makes this exact, not
    approximate, whatever the micro-batch split."""
    from pyspark.sql import functions as F

    from ensembl_lakehouse_spark.streaming import stateful as ST

    out = ST.run_totals_to_memory(spark, events_dir, "t_totals")
    # Update-mode sink appends one row per key per batch: the LAST
    # row per key is the final running total.
    latest: dict[str, tuple[int, int]] = {}
    for r in out.collect():
        latest[r.event_type] = (r.n_events, r.sum_value_cents)

    batch = {
        r.event_type: (r.n, r.cents)
        for r in SE.load_events_batch(spark, events_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100)).alias("cents"),
        )
        .collect()
    }
    assert latest == batch


def test_stream_stream_attribution_join_matches_batch(spark, events_dir):
    """The watermarked stream-stream interval join must produce
    exactly the batch join's pairs (no aggregation → exact set
    equality). availableNow processes all files, and every event is
    within the watermark horizon at fixture scale, so no pair is
    legally droppable."""
    from ensembl_lakehouse_spark.streaming import joins as SJ

    stream = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in SJ.run_attribution_to_memory(spark, events_dir, "t_attr").collect()
    }
    batch = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in SJ.attribution_join_batch(spark, events_dir).collect()
    }
    assert stream == batch
    assert batch  # non-vacuous: the fixture does contain conversions
    # interval semantics spot-check on the batch rows
    for r in SJ.attribution_join_batch(spark, events_dir).collect()[:50]:
        delta = (r.purchase_ts - r.click_ts).total_seconds()
        assert 0 <= delta <= 3600


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    """The stream-static join needs no state and no watermark; its
    availableNow run must equal the batch join exactly (inner join +
    projection only — set equality on full rows)."""
    from ensembl_lakehouse_spark.streaming import enrich as EN

    stream = {
        tuple(r)
        for r in EN.run_enriched_to_memory(spark, events_dir, SF_DIR, "t_enrich").collect()
    }
    batch = {tuple(r) for r in EN.enriched_batch(spark, events_dir, SF_DIR).collect()}
    assert stream == batch
    assert batch  # the fixture's user_ids all resolve to customers
    # every stream event survived the inner join (full referential fixture)
    n_src = spark.read.parquet(events_dir).count()
    assert len(stream) == n_src


def test_watermark_is_applied(spark, events_dir):
    plan = SE.hourly_stream(spark, events_dir)._jdf.queryExecution().analyzed().toString()
    assert "watermark" in plan.lower()


def test_streaming_dedup_suppresses_redelivery(spark, events_dir):
    """Every event delivered twice (worst-case at-least-once) must
    come out exactly once: the deduped stream equals the batch
    row set, with no duplicates surviving."""
    from ensembl_lakehouse_spark.streaming import dedup as SD

    out = SD.run_dedup_to_memory(spark, events_dir, "t_dedup_stream").collect()
    ids = [r.event_id for r in out]
    assert len(ids) == len(set(ids)), "duplicates survived the dedup"
    batch = SE.load_events_batch(spark, events_dir)
    assert sorted(ids) == sorted(r.event_id for r in batch.select("event_id").collect())


@pytest.fixture(scope="module")
def split_events_dir(spark, tmp_path_factory, events_dir):
    """The events table split into two parquet files so
    maxFilesPerTrigger=1 yields two genuine micro-batches."""
    d = tmp_path_factory.mktemp("events_split")
    src = SE.load_events_batch(spark, events_dir)
    src.where("event_id % 2 = 0").coalesce(1).write.parquet(str(d / "even"))
    src.where("event_id % 2 = 1").coalesce(1).write.parquet(str(d / "odd"))
    import glob, shutil as sh

    out = tmp_path_factory.mktemp("events_two_files")
    for i, f in enumerate(sorted(glob.glob(str(d / "*" / "*.parquet")))):
        sh.copy(f, out / f"part{i}.parquet")
    return str(out)


def test_continuous_rollup_upserts_across_microbatches(spark, split_events_dir, events_dir):
    """Two micro-batches (one file each) must leave the materialized
    view exactly equal to the batch rollup over all events: the
    second batch's update rows OVERWRITE the first's partial values
    (state-store math + sink upsert, no sink arithmetic)."""
    from ensembl_lakehouse_spark.streaming import continuous as SC

    view, n_batches, _ = SC.run_continuous_rollup(
        spark, split_events_dir, max_files_per_trigger=1
    )
    assert n_batches >= 2, "expected one micro-batch per file"
    batch = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in R.events_hourly(spark, SF_DIR).collect()
    }
    assert view == batch


def test_checkpoint_restart_is_effectively_exactly_once(spark, tmp_path_factory, events_dir):
    """Restart semantics: a second availableNow run on the same
    checkpoint must ingest ONLY files that arrived in between (no
    reprocessing of run 1's input) and leave the materialized view
    exactly equal to the batch rollup over everything. Files are
    split by TIME (second half strictly later) so the persisted
    watermark never classifies run-2 rows as late."""
    import shutil as sh

    from pyspark.sql import functions as F

    from ensembl_lakehouse_spark.streaming import continuous as SC

    src = SE.load_events_batch(spark, events_dir)
    lohi = src.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = lohi.lo + (lohi.hi - lohi.lo) / 2
    base = tmp_path_factory.mktemp("ckpt_restart")
    live, ckpt = base / "live", str(base / "ckpt")
    live.mkdir()
    half1, half2 = base / "h1", base / "h2"
    src.where(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(str(half1))
    src.where(F.col("ts") > F.lit(mid)).coalesce(1).write.parquet(str(half2))
    import glob

    f1 = glob.glob(str(half1 / "*.parquet"))[0]
    f2 = glob.glob(str(half2 / "*.parquet"))[0]
    n2 = spark.read.parquet(f2).count()

    sh.copy(f1, live / "part1.parquet")
    view, _, rows1 = SC.run_continuous_rollup(spark, str(live), checkpoint_dir=ckpt)
    assert rows1 == spark.read.parquet(f1).count()

    # "process restart": new query, same checkpoint, one new file
    sh.copy(f2, live / "part2.parquet")
    view, _, rows2 = SC.run_continuous_rollup(
        spark, str(live), checkpoint_dir=ckpt, view=view
    )
    assert rows2 == n2, "run 2 must ingest only the new file"

    batch = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in R.events_hourly(spark, SF_DIR).collect()
    }
    assert view == batch


def test_trending_topk_stream_equals_batch(spark, events_dir):
    """Streaming sliding-window counts ranked at the sink equal the
    batch twin's ranking exactly (count desc, type asc total order)."""
    from ensembl_lakehouse_spark.streaming import trending as ST

    streamed = [
        (r.win_start, r.rank, r.event_type, r.n_events)
        for r in ST.run_trending_to_memory(spark, events_dir, "t_trend_eq").collect()
    ]
    batch = [
        (r.win_start, r.rank, r.event_type, r.n_events)
        for r in ST.trending_batch(spark, events_dir).collect()
    ]
    assert streamed == batch
    assert streamed
    for _, rank, _, _ in streamed:
        assert 1 <= rank <= ST.TREND_K


def test_one_available_now_launcher():
    """Every streaming query in the package starts through
    streaming.events._run_available_now: exactly one availableNow
    trigger and one awaitTermination call in the package source."""
    import pathlib

    import ensembl_lakehouse_spark

    root = pathlib.Path(ensembl_lakehouse_spark.__file__).parent
    sources = [p.read_text() for p in root.rglob("*.py")]
    assert sum(s.count("availableNow=True") for s in sources) == 1
    assert sum(s.count("awaitTermination(") for s in sources) == 1
