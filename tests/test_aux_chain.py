"""Hierarchical AUX rollups (r8 VERDICT #3): MIN/MAX and HLL flow
through the weekly←daily←base lattice the way count/sum already do —
insert-only parent deltas merge (least/greatest, register union),
delete-touched child groups re-aggregate from the FIRST HOP (the
parent rollup, never the base), and the MV rewrite composes chain
freshness unchanged. Equivalence is pinned against a base recompute
at every step, at both freshness modes, and under the crash matrix's
parent-ticked/child-not window."""

from __future__ import annotations

import pytest

from ensembl_lakehouse_spark import ivm
from ensembl_lakehouse_spark import snapshots as SN
from ensembl_lakehouse_spark.plans import rewrite as RW

WEEK = {"week": "day DIV 7", "t": "t"}


def _weekly_minmax_truth(spark, src):
    from pyspark.sql import functions as F

    return sorted(
        tuple(r)
        for r in SN.read_snapshot(spark, src)
        .groupBy((F.expr("day DIV 7")).alias("week"), "t")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )


def _weekly_minmax_view(spark, child):
    from pyspark.sql import functions as F

    return sorted(
        tuple(r)
        for r in ivm.read_aux_rollup(spark, child)
        .select("week", "t", F.col("min_val").alias("lo"),
                F.col("max_val").alias("hi"))
        .collect()
    )


def _setup(spark, tmp_path, kind):
    src = str(tmp_path / "src")
    daily = str(tmp_path / "daily")
    weekly = str(tmp_path / "weekly")
    rows = [(i, i % 14, f"t{i % 3}", i) for i in range(120)]
    SN.write_snapshot(
        src, spark.createDataFrame(rows, ["k", "day", "t", "v"])
    )
    ivm.maintain_aux_rollup(spark, src, daily, ["day", "t"], "v", kind=kind)
    return src, daily, weekly


def test_minmax_chain_tracks_base_through_all_delta_shapes(spark, tmp_path):
    src, daily, weekly = _setup(spark, tmp_path, "minmax")
    out = ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )
    assert out["mode"] == "full"
    assert _weekly_minmax_view(spark, weekly) == _weekly_minmax_truth(
        spark, src
    )

    # insert-only: extends extremes in week 1 / t0 — both hops delta
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(900, 13, "t0", 9999), (901, 0, "t1", -5)],
            ["k", "day", "t", "v"],
        ),
        key="k",
    )
    assert ivm.maintain_aux_rollup(
        spark, src, daily, ["day", "t"], "v", kind="minmax"
    )["mode"] == "delta"
    assert ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )["mode"] == "delta"
    assert _weekly_minmax_view(spark, weekly) == _weekly_minmax_truth(
        spark, src
    )
    # replay no-op at the child hop
    assert ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )["mode"] == "noop"

    # remove the extreme we just inserted (the case additive IVM
    # can't express): child group must re-aggregate from the PARENT
    SN.delete_snapshot(spark, src, where="k = 900")
    ivm.maintain_aux_rollup(spark, src, daily, ["day", "t"], "v",
                            kind="minmax")
    assert ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )["mode"] == "delta"
    assert _weekly_minmax_view(spark, weekly) == _weekly_minmax_truth(
        spark, src
    )

    # vanish all of week 1 → child tombstones (n_rows=0) are filtered
    SN.delete_snapshot(spark, src, where="day >= 7")
    ivm.maintain_aux_rollup(spark, src, daily, ["day", "t"], "v",
                            kind="minmax")
    ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )
    view = _weekly_minmax_view(spark, weekly)
    assert view == _weekly_minmax_truth(spark, src)
    assert {r[0] for r in view} == {0}
    raw = {
        (r.week, r.t): r.n_rows
        for r in SN.read_snapshot(spark, weekly).collect()
    }
    assert raw[(1, "t0")] == 0


def test_hll_chain_estimates_equal_single_pass_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    src, daily, weekly = _setup(spark, tmp_path, "hll")
    ivm.maintain_aux_rollup_from_rollup(spark, daily, weekly, WEEK,
                                        kind="hll")

    def truth():
        return sorted(
            tuple(r)
            for r in SN.read_snapshot(spark, src)
            .groupBy(F.expr("day DIV 7").alias("week"), "t")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg("v")
                ).alias("u")
            )
            .collect()
        )

    def view():
        return sorted(
            tuple(r)
            for r in ivm.read_aux_rollup(spark, weekly)
            .groupBy("week", "t")
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("u")
            )
            .collect()
        )

    assert view() == truth()
    # insert + delete commit: delete-touched child groups re-union
    # from the parent, insert-only groups union in place
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(950, 1, "t2", 777), (951, 8, "t1", 778)],
            ["k", "day", "t", "v"],
        ),
        key="k",
    )
    SN.delete_snapshot(spark, src, where="k = 3")
    ivm.maintain_aux_rollup(spark, src, daily, ["day", "t"], "v", kind="hll")
    assert ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="hll"
    )["mode"] == "delta"
    assert view() == truth()


def test_rewrite_answers_minmax_through_the_chain_both_modes(
    spark, tmp_path
):
    """The lattice serves the MV rewrite: a weekly MIN/MAX aggregate
    answers from the CHILD when the whole chain is fresh w.r.t. the
    pin; after the base advances, strict falls back and stale_ok
    serves the child's consistent pre-commit state."""
    src, daily, weekly = _setup(spark, tmp_path, "minmax")
    ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )
    cat = RW.RollupCatalog()
    cat.register(
        "weekly_mm", weekly, src, ["week", "t"], "v",
        parent_dir=daily, kind="minmax",
    )
    aggs = {"lo": ("min", "v"), "hi": ("max", "v"), "n": ("count", "")}
    got, why = RW.answer_aggregate(spark, cat, src, ["t"], aggs)
    assert why["used"] == "rollup" and why["rollup"] == "weekly_mm"
    want, why_b = RW.answer_aggregate(
        spark, RW.RollupCatalog(), src, ["t"], aggs
    )
    assert why_b["used"] == "base"
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    pre = sorted(map(tuple, got.collect()))

    # base advances; no ticks → strict falls back, stale_ok serves
    # the chain's consistent earlier state
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(980, 2, "t0", -100)],
                              ["k", "day", "t", "v"]),
        key="k",
    )
    got2, why2 = RW.answer_aggregate(spark, cat, src, ["t"], aggs)
    assert why2["used"] == "base"
    reasons = {s["rollup"]: s["reason"] for s in why2["skipped"]}
    assert reasons["weekly_mm"].startswith("stale")
    got3, why3 = RW.answer_aggregate(
        spark, cat, src, ["t"], aggs, freshness="stale_ok"
    )
    assert why3["used"] == "rollup"
    assert sorted(map(tuple, got3.collect())) == pre

    # resume: both ticks converge the chain, strict serves again
    ivm.maintain_aux_rollup(spark, src, daily, ["day", "t"], "v",
                            kind="minmax")
    ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )
    got4, why4 = RW.answer_aggregate(spark, cat, src, ["t"], aggs)
    assert why4["used"] == "rollup" and why4["rollup"] == "weekly_mm"
    want4, _ = RW.answer_aggregate(
        spark, RW.RollupCatalog(), src, ["t"], aggs
    )
    assert sorted(map(tuple, got4.collect())) == sorted(
        map(tuple, want4.collect())
    )


def test_crash_between_parent_and_aux_child_tick(spark, tmp_path):
    """Crash matrix extended to aux children (window a): the daily
    aux parent applied the base commit, the weekly child did not —
    strict answers from the fresh PARENT, the child reports stale,
    and the resumed child tick converges."""
    src, daily, weekly = _setup(spark, tmp_path, "minmax")
    ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )
    cat = RW.RollupCatalog()
    cat.register("daily_mm", daily, src, ["day", "t"], "v", kind="minmax")
    cat.register(
        "weekly_mm", weekly, src, ["week", "t"], "v",
        parent_dir=daily, kind="minmax",
    )
    aggs = {"lo": ("min", "v"), "hi": ("max", "v")}
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(990, 1, "t1", -777)],
                              ["k", "day", "t", "v"]),
        key="k",
    )
    ivm.maintain_aux_rollup(spark, src, daily, ["day", "t"], "v",
                            kind="minmax")
    # CRASH before the child tick: strict serves the fresh parent
    got, why = RW.answer_aggregate(spark, cat, src, ["t"], aggs)
    assert why["used"] == "rollup" and why["rollup"] == "daily_mm"
    reasons = {s["rollup"]: s["reason"] for s in why["skipped"]}
    assert reasons["weekly_mm"].startswith("stale")
    want, _ = RW.answer_aggregate(spark, RW.RollupCatalog(), src, ["t"], aggs)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # resume
    assert ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )["mode"] == "delta"
    got2, why2 = RW.answer_aggregate(spark, cat, src, ["t"], aggs)
    assert why2["rollup"] == "weekly_mm"  # fewer rows wins once fresh
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_kind_mismatch_and_version_space_guards(spark, tmp_path):
    src, daily, weekly = _setup(spark, tmp_path, "minmax")
    # wrong kind against a minmax parent: loud, before lineage binds
    with pytest.raises(ValueError, match="not a maintained 'hll'"):
        ivm.maintain_aux_rollup_from_rollup(
            spark, daily, weekly, WEEK, kind="hll"
        )
    assert ivm.rollup_lineage(weekly) is None
    # a (count, sum) child of the same parent: refused the same way
    with pytest.raises(ValueError, match="not a maintained 'sum'"):
        ivm.maintain_rollup_from_rollup(spark, daily, weekly, WEEK)
    assert ivm.rollup_lineage(weekly) is None
    ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, WEEK, kind="minmax"
    )
    # direct base maintenance of a stamped child: version spaces
    with pytest.raises(ValueError, match="PARENT versions"):
        ivm.maintain_aux_rollup(
            spark, src, weekly, ["week", "t"], "v", kind="minmax"
        )
    # re-pointing a stamped child: refused
    other = str(tmp_path / "other_parent")
    ivm.maintain_aux_rollup(spark, src, other, ["day", "t"], "v",
                            kind="minmax")
    with pytest.raises(ValueError, match="re-pointing|lineage-marked"):
        ivm.maintain_aux_rollup_from_rollup(
            spark, other, weekly, WEEK, kind="minmax"
        )
    # an HLL over a type hll_sketch_agg rejects: refused before the
    # first build runs, nothing committed
    dsrc, hll = str(tmp_path / "dsrc"), str(tmp_path / "hll_dbl")
    SN.write_snapshot(
        dsrc, spark.createDataFrame([(1, 0.5)], "t INT, x DOUBLE")
    )
    with pytest.raises(ValueError, match="INT, BIGINT, STRING or BINARY"):
        ivm.maintain_aux_rollup(spark, dsrc, hll, ["t"], "x", kind="hll")
    assert SN.current_version(hll) is None


def test_streaming_chain_ticks_aux_children(spark, tmp_path):
    """The medallion chain drives an aux child per micro-batch
    (ChildRollupDef kind="minmax"): after the run the whole lattice
    equals the base recompute."""
    import os

    from ensembl_lakehouse_spark.streaming.ivm_stream import (
        AuxRollupDef,
        ChildRollupDef,
        run_stream_ivm,
    )

    events_dir = str(tmp_path / "events_in")
    os.makedirs(events_dir)
    src = str(tmp_path / "stream_src")
    daily = str(tmp_path / "stream_daily")
    weekly = str(tmp_path / "stream_weekly")
    rows = [
        (f"e{i}", i * 1000, i % 14, f"t{i % 3}", i) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "day", "t", "v"])
    df.coalesce(2).write.parquet(os.path.join(events_dir, "batch0"))
    out = run_stream_ivm(
        spark,
        os.path.join(events_dir, "batch0"),
        src,
        rollups=[],
        aux=[AuxRollupDef(daily, ("day", "t"), "v", kind="minmax")],
        children=[
            ChildRollupDef(daily, weekly, WEEK, kind="minmax")
        ],
    )
    assert out["n_input_rows"] == 40
    assert _weekly_minmax_view(spark, weekly) == _weekly_minmax_truth(
        spark, src
    )
