"""Streaming → snapshot-table sink: per-micro-batch MERGE commits,
restart ingests only new files, replayed batches are no-ops, and the
final snapshot equals the batch recompute (with time travel across
batch boundaries)."""

from __future__ import annotations

import glob
import os
import shutil as sh

import pytest
from pyspark.sql import functions as F

from ensembl_lakehouse_spark import snapshots as SN
from ensembl_lakehouse_spark.operators import relational as R
from ensembl_lakehouse_spark.streaming import continuous as SC
from ensembl_lakehouse_spark.streaming import events as SE
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_snap_stream")
    sh.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


def _as_dict(df):
    return {(r.hour, r.event_type): (r.n_events, r.sum_value) for r in df.collect()}


def test_snapshot_sink_restart_replay_and_time_travel(
    spark, tmp_path_factory, events_dir
):
    src = SE.load_events_batch(spark, events_dir)
    lohi = src.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = lohi.lo + (lohi.hi - lohi.lo) / 2
    base = tmp_path_factory.mktemp("snap_stream")
    live, ckpt, tbl = base / "live", str(base / "ckpt"), str(base / "rollup")
    live.mkdir()
    h1, h2 = base / "h1", base / "h2"
    src.where(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(str(h1))
    src.where(F.col("ts") > F.lit(mid)).coalesce(1).write.parquet(str(h2))
    f1 = glob.glob(str(h1 / "*.parquet"))[0]
    f2 = glob.glob(str(h2 / "*.parquet"))[0]

    sh.copy(f1, live / "part1.parquet")
    _, rows1 = SC.run_continuous_rollup_snapshots(
        spark, str(live), tbl, checkpoint_dir=ckpt
    )
    assert rows1 == spark.read.parquet(f1).count()
    v_after_first = SN.current_version(tbl)

    sh.copy(f2, live / "part2.parquet")
    _, rows2 = SC.run_continuous_rollup_snapshots(
        spark, str(live), tbl, checkpoint_dir=ckpt
    )
    assert rows2 == spark.read.parquet(f2).count(), "restart ingests only new file"

    batch = _as_dict(R.events_hourly(spark, SF_DIR))
    assert _as_dict(SN.read_snapshot(spark, tbl)) == batch

    # Replay: a crash after the last data batch's MERGE committed and
    # before the checkpoint recorded the batch. Roll the checkpoint
    # back to that point and restart the real sink: it re-runs the
    # batch, finds its stamp committed and commits nothing.
    version_before = SN.current_version(tbl)
    last = max(
        int(o.rsplit("=", 1)[1])
        for o in SN.committed_ops(tbl)
        if o.startswith("stream-merge:batch=")
    )
    for sub, first_dropped in (("offsets", last + 1), ("commits", last)):
        for name in os.listdir(os.path.join(ckpt, sub)):
            batch_id = name.lstrip(".").split(".")[0]
            if batch_id.isdigit() and int(batch_id) >= first_dropped:
                os.remove(os.path.join(ckpt, sub, name))
    n_replayed, _ = SC.run_continuous_rollup_snapshots(
        spark, str(live), tbl, checkpoint_dir=ckpt
    )
    assert n_replayed >= 1
    assert SN.current_version(tbl) == version_before
    assert _as_dict(SN.read_snapshot(spark, tbl)) == batch

    # Time travel: the pre-restart version is still the half-ingested
    # rollup — fewer or equal keys, and every key's counts ≤ final.
    early = _as_dict(SN.read_snapshot(spark, tbl, version=v_after_first))
    assert set(early) <= set(batch)
    assert all(early[k][0] <= batch[k][0] for k in early)


def test_stream_to_snapshot_to_ivm_rollup(spark, tmp_path_factory, events_dir):
    """The medallion chain end-to-end: stream → exactly-once MERGE
    into the bronze snapshot table → IVM tick maintains the silver
    per-type rollup from CDC deltas; after each stage the silver
    view equals a full recompute from bronze."""
    from ensembl_lakehouse_spark import ivm

    src = SE.load_events_batch(spark, events_dir)
    lohi = src.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = lohi.lo + (lohi.hi - lohi.lo) / 2
    base = tmp_path_factory.mktemp("medallion")
    live, ckpt = base / "live", str(base / "ckpt")
    bronze, silver = str(base / "bronze"), str(base / "silver")
    live.mkdir()
    h1, h2 = base / "h1", base / "h2"
    src.where(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(str(h1))
    src.where(F.col("ts") > F.lit(mid)).coalesce(1).write.parquet(str(h2))
    f1 = glob.glob(str(h1 / "*.parquet"))[0]
    f2 = glob.glob(str(h2 / "*.parquet"))[0]

    def silver_equals_recompute():
        want = {
            (r.event_type,): (r.n_rows, r.sum_val)
            for r in SN.read_snapshot(spark, bronze)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("n_events").cast("bigint")).alias("sum_val"),
            )
            .collect()
        }
        got = {
            (r.event_type,): (r.n_rows, r.sum_val)
            for r in ivm.read_rollup(spark, silver).collect()
        }
        assert got == want

    sh.copy(f1, live / "part1.parquet")
    SC.run_continuous_rollup_snapshots(spark, str(live), bronze, checkpoint_dir=ckpt)
    out = ivm.maintain_rollup(spark, bronze, silver, ["event_type"], "n_events")
    assert out["mode"] == "full"
    silver_equals_recompute()

    sh.copy(f2, live / "part2.parquet")
    SC.run_continuous_rollup_snapshots(spark, str(live), bronze, checkpoint_dir=ckpt)
    out = ivm.maintain_rollup(spark, bronze, silver, ["event_type"], "n_events")
    assert out["mode"] == "delta"
    silver_equals_recompute()
    # duplicate maintenance tick: exactly-once noop
    assert ivm.maintain_rollup(spark, bronze, silver, ["event_type"], "n_events")[
        "mode"
    ] == "noop"


def test_streaming_scoped_merge_rewrites_only_open_hour_files(
    spark, tmp_path_factory, events_dir
):
    """Round 6: the snapshot sink merges with scope_by='hour', so a
    micro-batch touching k open windows rewrites O(k) files — files
    holding only closed hours are carried by reference across the
    commit (temporal min/max stats prune them). The view still
    equals the batch recompute exactly."""
    src = SE.load_events_batch(spark, events_dir)
    lohi = src.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    # late slice: the last ~10% of the time range
    cut = lohi.hi - (lohi.hi - lohi.lo) / 10
    base = tmp_path_factory.mktemp("snap_scoped")
    live, ckpt, tbl = base / "live", str(base / "ckpt"), str(base / "rollup")
    live.mkdir()
    early = base / "early"
    late = base / "late"
    src.where(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(str(early))
    src.where(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(str(late))
    f_early = glob.glob(str(early / "*.parquet"))[0]
    f_late = glob.glob(str(late / "*.parquet"))[0]

    # first run ingests the bulk; compact hour-clustered so files
    # hold disjoint hour ranges (what a maintained table looks like)
    sh.copy(f_early, live / "part1.parquet")
    SC.run_continuous_rollup_snapshots(spark, str(live), tbl, checkpoint_dir=ckpt)
    SN.compact(spark, tbl, target_files=8, cluster_by=["hour"])
    before = SN._read_manifest(tbl, SN.current_version(tbl))
    assert len(before["files"]) == 8

    # second run ingests only the late slice -> touches late hours only
    sh.copy(f_late, live / "part2.parquet")
    SC.run_continuous_rollup_snapshots(spark, str(live), tbl, checkpoint_dir=ckpt)
    after = SN._read_manifest(tbl, SN.current_version(tbl))
    carried = set(before["files"]) & set(after["files"])
    assert len(carried) >= 6, (
        f"scoped streaming merge must carry closed-hour files: "
        f"{len(carried)}/8 carried"
    )
    # and the merged state equals the batch recompute
    batch = _as_dict(R.events_hourly(spark, SF_DIR))
    assert _as_dict(SN.read_snapshot(spark, tbl)) == batch
