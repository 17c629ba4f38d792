"""Incremental view maintenance: rollup maintained from CDC deltas
equals a full recompute at every source version; maintenance is
exactly-once and delta-driven after the first run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ensembl_lakehouse_spark import ivm
from ensembl_lakehouse_spark import snapshots as SN


def _recompute(spark, src):
    return {
        (r.grp,): (r.n_rows, r.sum_val)
        for r in SN.read_snapshot(spark, src)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("val").cast("bigint")).alias("sum_val"),
        )
        .collect()
    }


def _view(spark, rollup):
    return {
        (r.grp,): (r.n_rows, r.sum_val)
        for r in ivm.read_rollup(spark, rollup).collect()
    }


def test_rollup_tracks_source_through_inserts_updates_deletes(spark, tmp_path):
    src = str(tmp_path / "src")
    rol = str(tmp_path / "rollup")
    rows = [(i, f"g{i % 3}", i) for i in range(30)]
    SN.write_snapshot(src, spark.createDataFrame(rows, ["k", "grp", "val"]))

    out = ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "full"
    assert _view(spark, rol) == _recompute(spark, src)

    # v1: updates (k 0-4 change value AND group) + inserts (k 100-104)
    upd = [(k, "g9", k * 10) for k in range(5)] + [
        (k, "g9", k) for k in range(100, 105)
    ]
    SN.merge_snapshot(
        spark, src, spark.createDataFrame(upd, ["k", "grp", "val"]), key="k"
    )
    out = ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "delta"
    assert _view(spark, rol) == _recompute(spark, src)

    # exactly-once: same source version -> noop, state unchanged
    assert ivm.maintain_rollup(spark, src, rol, ["grp"], "val")["mode"] == "noop"
    assert _view(spark, rol) == _recompute(spark, src)

    # v2: "delete" an entire group by overwriting without it
    kept = (
        SN.read_snapshot(spark, src).where("grp <> 'g9'")
    )
    SN.write_snapshot(src, kept, mode="overwrite")
    out = ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "delta"
    assert _view(spark, rol) == _recompute(spark, src)
    # the emptied group survives only as a filtered tombstone
    raw = {r.grp: r.n_rows for r in SN.read_snapshot(spark, rol).collect()}
    assert raw.get("g9") == 0

    # several source commits between maintenance ticks fold into ONE delta
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(200, "g0", 7)], ["k", "grp", "val"]), key="k",
    )
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(201, "g1", 8)], ["k", "grp", "val"]), key="k",
    )
    out = ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "delta"
    assert _view(spark, rol) == _recompute(spark, src)


def test_null_measure_delta_does_not_corrupt_sum(spark, tmp_path):
    """Review regression: a delta whose measure values are all NULL
    contributes 0, never NULL (NULL would overwrite the standing
    sum and silently restart it from 0)."""
    src = str(tmp_path / "src_n")
    rol = str(tmp_path / "rol_n")
    SN.write_snapshot(
        src,
        spark.createDataFrame([(1, "g", 10), (2, "g", 20)], ["k", "grp", "val"]),
    )
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(3, "g", None)], schema="k INT, grp STRING, val INT"
        ),
        key="k",
    )
    assert ivm.maintain_rollup(spark, src, rol, ["grp"], "val")["mode"] == "delta"
    assert _view(spark, rol) == _recompute(spark, src)
    assert _view(spark, rol)[("g",)] == (3, 30)


def test_null_group_key_is_rejected(spark, tmp_path):
    src = str(tmp_path / "src_ng")
    rol = str(tmp_path / "rol_ng")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(1, None, 10), (2, "g", 20)], schema="k INT, grp STRING, val INT"
        ),
    )
    with pytest.raises(ValueError, match="NULL in group column"):
        ivm.maintain_rollup(spark, src, rol, ["grp"], "val")


def test_vacuumed_source_history_triggers_rebuild(spark, tmp_path):
    """Review regression: source vacuum past the last-applied version
    used to wedge maintenance with FileNotFoundError forever; now it
    rebuilds, tombstoning groups that vanished meanwhile."""
    src = str(tmp_path / "src_v")
    rol = str(tmp_path / "rol_v")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 2}", i) for i in range(10)], ["k", "grp", "val"]
        ),
    )
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")  # applied v0
    # three source commits, the last removing group g1 entirely
    for batch in ([(100, "g0", 5)], [(101, "g0", 6)]):
        SN.merge_snapshot(
            spark, src, spark.createDataFrame(batch, ["k", "grp", "val"]), key="k"
        )
    SN.write_snapshot(
        src, SN.read_snapshot(spark, src).where("grp <> 'g1'"), mode="overwrite"
    )
    SN.vacuum(src, keep_versions=1)  # v0 manifest gone
    out = ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "rebuild"
    assert _view(spark, rol) == _recompute(spark, src)
    raw = {r.grp: r.n_rows for r in SN.read_snapshot(spark, rol).collect()}
    assert raw.get("g1") == 0  # vanished group tombstoned


def _seed(spark, src, rol):
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 3}", i) for i in range(12)], ["k", "grp", "val"]
        ),
    )
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")  # applied v0
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(100, "g0", 50), (101, "g3", 7)], ["k", "grp", "val"]
        ),
        key="k",
    )
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")  # applied v1


def test_source_rollback_api_maintains_correctly(spark, tmp_path):
    """Official rollback(): a NEW source version carrying old
    content. Maintenance must apply the reversing delta once and then
    noop — view == recompute at every step."""
    src, rol = str(tmp_path / "src_rb"), str(tmp_path / "rol_rb")
    _seed(spark, src, rol)
    SN.rollback(src, 0)  # v2 == v0's content
    out = ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "delta"
    assert _view(spark, rol) == _recompute(spark, src)
    assert ivm.maintain_rollup(spark, src, rol, ["grp"], "val")["mode"] == "noop"
    assert _view(spark, rol) == _recompute(spark, src)


def test_out_of_band_source_version_decrease_does_not_corrupt(spark, tmp_path):
    """ADVICE r4 regression: a source restored out-of-band to a LOWER
    version number (backup restore — pointer moves backwards, no new
    commit). Numeric-sorted stamp tracking pinned last-applied at the
    higher version forever and re-applied the same reversing delta on
    EVERY tick, corrupting the rollup unboundedly. Log-order tracking
    applies it once and then noops."""
    src, rol = str(tmp_path / "src_oob"), str(tmp_path / "rol_oob")
    _seed(spark, src, rol)
    # simulate the backup restore: pointer back to v0
    with open(SN._pointer_path(src), "w") as f:
        f.write("0")
    out = ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "delta"
    assert _view(spark, rol) == _recompute(spark, src)
    # the old bug fired here: every later tick re-applied the delta
    for _ in range(3):
        assert (
            ivm.maintain_rollup(spark, src, rol, ["grp"], "val")["mode"]
            == "noop"
        )
        assert _view(spark, rol) == _recompute(spark, src)


def test_rollup_rollback_requires_explicit_rebuild(spark, tmp_path):
    """Rolling back the ROLLUP reverts its content but not its stamp
    history, so plain maintenance noops on stale content; rebuild=True
    restores view == recompute."""
    src, rol = str(tmp_path / "src_rr"), str(tmp_path / "rol_rr")
    _seed(spark, src, rol)
    SN.rollback(rol, 0)  # rollup content back to the v0 aggregate
    assert (
        ivm.maintain_rollup(spark, src, rol, ["grp"], "val")["mode"] == "noop"
    )
    out = ivm.maintain_rollup(spark, src, rol, ["grp"], "val", rebuild=True)
    assert out["mode"] == "rebuild"
    assert _view(spark, rol) == _recompute(spark, src)
    assert ivm.maintain_rollup(spark, src, rol, ["grp"], "val")["mode"] == "noop"


# ---- round 7: hierarchical rollups (rollup over rollup) ----


def _weekly_truth(spark, src):
    from pyspark.sql import functions as F

    return {
        (r.week, r.t): (r.n, r.s)
        for r in SN.read_snapshot(spark, src)
        .groupBy(
            F.expr("day DIV 7").alias("week"), F.col("t").alias("t")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("bigint")).alias("s"),
        )
        .collect()
    }


def _child_view(spark, child):
    return {
        (r.week, r.t): (r.n_rows, r.sum_val)
        for r in ivm.read_rollup(spark, child).collect()
    }


def test_hierarchical_rollup_matches_base_and_applies_deltas(spark, tmp_path):
    src = str(tmp_path / "src")
    daily = str(tmp_path / "daily")
    weekly = str(tmp_path / "weekly")
    rows = [(i, i % 14, f"t{i % 3}", i) for i in range(120)]
    SN.write_snapshot(
        src, spark.createDataFrame(rows, ["k", "day", "t", "v"])
    )
    ivm.maintain_rollup(spark, src, daily, ["day", "t"], "v")
    out = ivm.maintain_rollup_from_rollup(
        spark, daily, weekly, {"week": "day DIV 7", "t": "t"}
    )
    assert out["mode"] == "full"
    assert _child_view(spark, weekly) == _weekly_truth(spark, src)

    # base change flows source→daily→weekly as DELTAS at both hops
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(1000, 13, "t0", 500), (0, 0, "t0", 999)], ["k", "day", "t", "v"]
        ),
        key="k",
    )
    assert ivm.maintain_rollup(spark, src, daily, ["day", "t"], "v")[
        "mode"
    ] == "delta"
    out2 = ivm.maintain_rollup_from_rollup(
        spark, daily, weekly, {"week": "day DIV 7", "t": "t"}
    )
    assert out2["mode"] == "delta"
    assert _child_view(spark, weekly) == _weekly_truth(spark, src)

    # replayed tick is a no-op at the child hop too
    assert ivm.maintain_rollup_from_rollup(
        spark, daily, weekly, {"week": "day DIV 7", "t": "t"}
    )["mode"] == "noop"


def test_hierarchical_rollup_tombstones_vanished_weeks(spark, tmp_path):
    src = str(tmp_path / "src")
    daily = str(tmp_path / "daily")
    weekly = str(tmp_path / "weekly")
    rows = [(i, i % 14, "a", 1) for i in range(28)]
    SN.write_snapshot(
        src, spark.createDataFrame(rows, ["k", "day", "t", "v"])
    )
    ivm.maintain_rollup(spark, src, daily, ["day", "t"], "v")
    ivm.maintain_rollup_from_rollup(
        spark, daily, weekly, {"week": "day DIV 7", "t": "t"}
    )
    assert {k[0] for k in _child_view(spark, weekly)} == {0, 1}

    # delete week 1 entirely at the base; deltas drive the child
    # group to zero and read_rollup filters the tombstone
    SN.delete_snapshot(spark, src, where="day >= 7")
    ivm.maintain_rollup(spark, src, daily, ["day", "t"], "v")
    out = ivm.maintain_rollup_from_rollup(
        spark, daily, weekly, {"week": "day DIV 7", "t": "t"}
    )
    assert out["mode"] == "delta"
    view = _child_view(spark, weekly)
    assert {k[0] for k in view} == {0}
    assert view == _weekly_truth(spark, src)
    # the tombstone row physically exists at zero
    raw = {
        (r.week, r.t): r.n_rows
        for r in SN.read_snapshot(spark, weekly).collect()
    }
    assert raw[(1, "a")] == 0


def test_hierarchical_rollup_rejects_null_child_keys(spark, tmp_path):
    import pytest as _pytest

    src = str(tmp_path / "src")
    daily = str(tmp_path / "daily")
    weekly = str(tmp_path / "weekly")
    SN.write_snapshot(
        src,
        spark.createDataFrame([(1, 3, "a", 1)], ["k", "day", "t", "v"]),
    )
    ivm.maintain_rollup(spark, src, daily, ["day", "t"], "v")
    with _pytest.raises(ValueError, match="non-NULL"):
        ivm.maintain_rollup_from_rollup(
            spark, daily, weekly,
            {"week": "CASE WHEN day > 99 THEN day END", "t": "t"},
        )


def test_failed_first_tick_does_not_brick_child_dir(spark, tmp_path):
    """r7 ADVICE (ivm.py:349): a _lineage marker written for a first
    tick that never committed must not permanently bind the dir.
    With zero applied stamps, re-pointing at another parent works;
    once a tick HAS applied, re-pointing is refused again."""
    src = str(tmp_path / "src")
    daily = str(tmp_path / "daily")
    hourly = str(tmp_path / "hourly")
    weekly = str(tmp_path / "weekly")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(1, 3, "a", 1), (2, 8, "b", 2)], ["k", "day", "t", "v"]
        ),
    )
    ivm.maintain_rollup(spark, src, daily, ["day", "t"], "v")
    ivm.maintain_rollup(spark, src, hourly, ["t"], "v")
    with pytest.raises(ValueError, match="non-NULL"):
        ivm.maintain_rollup_from_rollup(
            spark, daily, weekly,
            {"week": "CASE WHEN day > 99 THEN day END", "t": "t"},
        )
    # the failure left a marker but nothing applied
    assert ivm.rollup_lineage(weekly) is not None
    assert ivm._applied_versions(weekly) == []
    # re-pointing at a different parent is allowed and works
    out = ivm.maintain_rollup_from_rollup(spark, hourly, weekly, {"t": "t"})
    assert out["mode"] == "full"
    assert _view_t(spark, weekly) == {("a",): (1, 1), ("b",): (1, 2)}
    # with state applied, re-pointing is refused again
    with pytest.raises(ValueError, match="lineage-marked"):
        ivm.maintain_rollup_from_rollup(
            spark, daily, weekly, {"week": "day DIV 7", "t": "t"}
        )


def test_failed_first_tick_allows_direct_reclaim(spark, tmp_path):
    """Companion to the re-point case: with zero applied stamps a
    dangling-marker dir may be reclaimed for DIRECT base-fed
    maintenance (the marker is removed); with stamps it stays
    refused."""
    src = str(tmp_path / "src")
    daily = str(tmp_path / "daily")
    weekly = str(tmp_path / "weekly")
    SN.write_snapshot(
        src,
        spark.createDataFrame([(1, 3, "a", 1)], ["k", "day", "t", "v"]),
    )
    ivm.maintain_rollup(spark, src, daily, ["day", "t"], "v")
    with pytest.raises(ValueError, match="non-NULL"):
        ivm.maintain_rollup_from_rollup(
            spark, daily, weekly,
            {"week": "CASE WHEN day > 99 THEN day END", "t": "t"},
        )
    out = ivm.maintain_rollup(spark, src, weekly, ["t"], "v")
    assert out["mode"] == "full"
    assert ivm.rollup_lineage(weekly) is None
    assert _view_t(spark, weekly) == {("a",): (1, 1)}
    # a child dir WITH applied hierarchical stamps still refuses
    # direct maintenance
    wk2 = str(tmp_path / "weekly2")
    ivm.maintain_rollup_from_rollup(spark, daily, wk2, {"t": "t"})
    with pytest.raises(ValueError, match="PARENT"):
        ivm.maintain_rollup(spark, src, wk2, ["t"], "v")


def _view_t(spark, rollup):
    return {
        (r.t,): (r.n_rows, r.sum_val)
        for r in ivm.read_rollup(spark, rollup).collect()
    }


# --- aux rollups: MIN/MAX and HLL (recompute-on-delete measures) ----


def _minmax_recompute(spark, src):
    return {
        (r.grp,): (r.n, r.lo, r.hi)
        for r in SN.read_snapshot(spark, src)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("val").alias("lo"),
            F.max("val").alias("hi"),
        )
        .collect()
    }


def _minmax_view(spark, rol):
    return {
        (r.grp,): (r.n_rows, r.min_val, r.max_val)
        for r in ivm.read_aux_rollup(spark, rol).collect()
    }


def test_minmax_rollup_tracks_source(spark, tmp_path):
    """(n_rows, min, max) rollup ≡ recompute through inserts that
    extend extremes, inserts that don't, updates/deletes that REMOVE
    the current extreme (the case (count,sum) IVM cannot express),
    and whole-group deletion — with modes proving the paths taken."""
    src = str(tmp_path / "src")
    rol = str(tmp_path / "mm")
    rows = [(i, f"g{i % 3}", i) for i in range(30)]
    SN.write_snapshot(src, spark.createDataFrame(rows, ["k", "grp", "val"]))

    out = ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "full"
    assert _minmax_view(spark, rol) == _minmax_recompute(spark, src)

    # insert-only commit: extends g0's max, leaves g1/g2 untouched
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(100, "g0", 999), (101, "g1", 15)],
                              ["k", "grp", "val"]),
        key="k",
    )
    out = ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "delta"
    assert _minmax_view(spark, rol) == _minmax_recompute(spark, src)

    # exactly-once
    assert ivm.maintain_aux_rollup(
        spark, src, rol, ["grp"], "val"
    )["mode"] == "noop"

    # delete the current max of g0 (k=100, val=999) AND update k=0
    # (val 0, the global min of g0) upward — both force the
    # per-group recompute path
    kept = (
        SN.read_snapshot(spark, src)
        .where("k <> 100")
        .collect()
    )
    newrows = [
        (r.k, r.grp, 500 if r.k == 0 else r.val) for r in kept
    ]
    SN.write_snapshot(
        src,
        spark.createDataFrame(newrows, ["k", "grp", "val"]),
        mode="overwrite",
    )
    out = ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "delta"
    assert _minmax_view(spark, rol) == _minmax_recompute(spark, src)

    # vanish an entire group -> tombstone
    kept2 = [
        (r.k, r.grp, r.val)
        for r in SN.read_snapshot(spark, src).collect()
        if r.grp != "g2"
    ]
    SN.write_snapshot(
        src, spark.createDataFrame(kept2, ["k", "grp", "val"]),
        mode="overwrite",
    )
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "val")
    assert _minmax_view(spark, rol) == _minmax_recompute(spark, src)
    raw = {
        (r.grp,): r.n_rows
        for r in SN.read_snapshot(spark, rol).collect()
    }
    assert raw[("g2",)] == 0  # tombstone, not a deleted row

    # resurrection: inserts into the tombstoned group must not be
    # polluted by the NULL tombstone measures
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(200, "g2", 7)], ["k", "grp", "val"]),
        key="k",
    )
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "val")
    assert _minmax_view(spark, rol) == _minmax_recompute(spark, src)


def test_minmax_rollup_rebuild_and_vacuum(spark, tmp_path):
    src = str(tmp_path / "src")
    rol = str(tmp_path / "mm")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 2}", i) for i in range(10)], ["k", "grp", "val"]
        ),
    )
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "val")
    for j in range(3):
        SN.merge_snapshot(
            spark, src,
            spark.createDataFrame([(100 + j, "g0", 100 + j)],
                                  ["k", "grp", "val"]),
            key="k",
        )
    SN.vacuum(src, keep_versions=1)  # history for the delta is gone
    out = ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "val")
    assert out["mode"] == "rebuild"
    assert _minmax_view(spark, rol) == _minmax_recompute(spark, src)


def test_hll_rollup_estimates_match_single_pass(spark, tmp_path):
    """HLL-sketch rollup: the estimate read from merged per-commit
    partials equals a PARTITION-PARALLEL single-pass sketch over the
    same rows — the register-wise-max determinism the rewrite's
    approx COUNT(DISTINCT) answering relies on (a strictly serial
    build is the one path that can drift past exact mode — see
    test_hll_union_vs_single_pass_drift). Deletes recompute their
    groups exactly, so shrinking cardinalities track too."""
    src = str(tmp_path / "src")
    rol = str(tmp_path / "hll")
    rows = [(i, f"g{i % 2}", i % 37) for i in range(200)]
    SN.write_snapshot(src, spark.createDataFrame(rows, ["k", "grp", "u"]))
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "u", kind="hll")

    def est_rollup():
        return {
            r.grp: r.est
            for r in ivm.read_aux_rollup(spark, rol)
            .groupBy("grp")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_union_agg("hll")
                ).alias("est")
            )
            .collect()
        }

    def est_base():
        return {
            r.grp: r.est
            for r in SN.read_snapshot(spark, src)
            .groupBy("grp")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg("u")
                ).alias("est")
            )
            .collect()
        }

    assert est_rollup() == est_base()
    # insert-only: new distinct values union in
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(1000 + i, "g0", 100 + i) for i in range(20)],
            ["k", "grp", "u"],
        ),
        key="k",
    )
    out = ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "u", kind="hll")
    assert out["mode"] == "delta"
    assert est_rollup() == est_base()
    # deletes shrink g0's distinct set: recompute path
    kept = [
        (r.k, r.grp, r.u)
        for r in SN.read_snapshot(spark, src).collect()
        if r.k < 500
    ]
    SN.write_snapshot(
        src, spark.createDataFrame(kept, ["k", "grp", "u"]),
        mode="overwrite",
    )
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "u", kind="hll")
    assert est_rollup() == est_base()


def test_hll_union_vs_single_pass_drift(spark):
    """Pin the HLL estimator semantics past exact/coupon mode (r8
    ADVICE): at 300k distinct values a PARTITION-PARALLEL
    hll_sketch_agg equals hll_union_agg over partials exactly (both
    estimate through sketch union — the composite estimator), while a
    strictly SINGLE-PARTITION build takes the HIP accumulator path
    and may differ, bounded by the sketch's error (<1.5% at lgK=12).
    This is why the rollup's approx tier is documented
    estimate-equivalent, not bit-equivalent, to an arbitrary
    single-pass build — and why rollup == base holds in this engine,
    where every base-path agg is partition-parallel."""
    n = 300_000
    # repartition pins the multi-partition path the test claims to
    # exercise: on a 1-CPU session spark.range would be a single
    # partition and "parallel" would silently take the serial HIP
    # path this test documents as allowed to differ (r9 code review)
    df = spark.range(n).select(
        F.col("id").alias("v"), (F.col("id") % 64).alias("g")
    ).repartition(8)
    parallel = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("u")
    ).collect()[0][0]
    unioned = (
        df.groupBy("g")
        .agg(F.hll_sketch_agg("v").alias("h"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("h")).alias("u"))
        .collect()[0][0]
    )
    assert parallel == unioned  # the equivalence the rewrite relies on
    serial = (
        df.coalesce(1)
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("u"))
        .collect()[0][0]
    )
    # the HIP path is allowed to differ — but only within sketch error
    assert abs(serial - n) / n < 0.015
    assert abs(unioned - n) / n < 0.015


# ---- round 10: DDSketch quantile aux rollups ----


def _q_truth(rows, q):
    """Exact type-1 order statistic per group over non-NULL values."""
    import collections
    import math as _m

    vals = collections.defaultdict(list)
    for g, v in rows:
        if v is not None:
            vals[g].append(v)
    return {
        g: sorted(s)[max(1, _m.ceil(q * len(s))) - 1]
        for g, s in vals.items()
    }


def _q_est(spark, rollup_dir, q):
    df = ivm.read_aux_rollup(spark, rollup_dir)
    return {
        r.grp: r.est
        for r in df.withColumn("_r", ivm.q_rank_expr("qsk", q))
        .withColumn("_k", ivm.q_key_expr("qsk", "_r"))
        .withColumn("est", ivm.q_value_expr("_k"))
        .select("grp", "est")
        .collect()
    }


def test_quantile_rollup_chain_equals_scratch_and_bounds_error(
    spark, tmp_path
):
    """The DDSketch map is fully additive, so a full→delta→delta
    chain must equal a from-scratch rebuild BIT-exactly (stronger
    than the hll tier), and every quantile estimate must sit within
    the stated α = (γ-1)/(γ+1) relative error of the true order
    statistic at the same rank."""
    import random

    random.seed(11)
    src = str(tmp_path / "src")
    rol = str(tmp_path / "rol")
    rows = [
        (i, f"g{i % 3}", random.randint(-500, 9000) if i % 13 else None)
        for i in range(700)
    ]
    SN.write_snapshot(
        src, spark.createDataFrame(rows, "k int, grp string, v int")
    )
    assert ivm.maintain_aux_rollup(
        spark, src, rol, ["grp"], "v", kind="quantile"
    )["mode"] == "full"
    # inserts only → map-merge delta
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(10_000 + i, "g0", 20_000 + i) for i in range(25)],
            "k int, grp string, v int",
        ),
        key="k",
    )
    assert ivm.maintain_aux_rollup(
        spark, src, rol, ["grp"], "v", kind="quantile"
    )["mode"] == "delta"
    # deletes → per-group recompute path
    SN.delete_snapshot(spark, src, "grp = 'g1' AND v > 4000")
    assert ivm.maintain_aux_rollup(
        spark, src, rol, ["grp"], "v", kind="quantile"
    )["mode"] == "delta"
    assert ivm.maintain_aux_rollup(
        spark, src, rol, ["grp"], "v", kind="quantile"
    )["mode"] == "noop"

    scratch = str(tmp_path / "scratch")
    ivm.maintain_aux_rollup(spark, src, scratch, ["grp"], "v", kind="quantile")
    chain = {
        r.grp: (r.n_rows, tuple((e.k, e.v) for e in r.qsk))
        for r in ivm.read_aux_rollup(spark, rol).collect()
    }
    want = {
        r.grp: (r.n_rows, tuple((e.k, e.v) for e in r.qsk))
        for r in ivm.read_aux_rollup(spark, scratch).collect()
    }
    assert chain == want

    live = [
        (r.grp, r.v)
        for r in SN.read_snapshot(spark, src).select("grp", "v").collect()
    ]
    alpha = (ivm.Q_GAMMA - 1) / (ivm.Q_GAMMA + 1)
    for q in (0.1, 0.5, 0.9, 0.99):
        truth = _q_truth(live, q)
        est = _q_est(spark, rol, q)
        for g, true in truth.items():
            rel = abs(est[g] - true) / max(abs(true), 1e-9)
            assert rel <= alpha + 1e-9 or abs(est[g] - true) <= 1, (
                q, g, est[g], true,
            )


def test_quantile_hierarchical_child_matches_direct(spark, tmp_path):
    """weekly←daily quantile chain: the child's merged maps must
    BIT-equal the sketch built directly from base rows at the child
    grouping (bucket adds are associative), including through a
    parent delta."""
    src = str(tmp_path / "src")
    daily = str(tmp_path / "daily")
    weekly = str(tmp_path / "weekly")
    rows = [(i, i % 14, (i * 37) % 1000) for i in range(400)]
    SN.write_snapshot(
        src, spark.createDataFrame(rows, ["k", "day", "v"])
    )
    ivm.maintain_aux_rollup(spark, src, daily, ["day"], "v", kind="quantile")
    assert ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, {"week": "day DIV 7"}, kind="quantile"
    )["mode"] == "full"

    def _direct():
        base = SN.read_snapshot(spark, src).withColumn(
            "week", F.expr("day DIV 7")
        )
        return {
            r.week: (r.n_rows, tuple((e.k, e.v) for e in r.qsk))
            for r in ivm._quantile_state(base, ["week"], "v").collect()
        }

    def _child():
        return {
            r.week: (r.n_rows, tuple((e.k, e.v) for e in r.qsk))
            for r in ivm.read_aux_rollup(spark, weekly).collect()
        }

    assert _child() == _direct()
    # delta at both hops: insert + delete flows through
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(5000, 2, 777), (0, 0, 999)], ["k", "day", "v"]),
        key="k",
    )
    assert ivm.maintain_aux_rollup(
        spark, src, daily, ["day"], "v", kind="quantile"
    )["mode"] == "delta"
    assert ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, {"week": "day DIV 7"}, kind="quantile"
    )["mode"] == "delta"
    assert _child() == _direct()
    assert ivm.maintain_aux_rollup_from_rollup(
        spark, daily, weekly, {"week": "day DIV 7"}, kind="quantile"
    )["mode"] == "noop"


def test_quantile_sketch_handles_fractional_and_mixed_sign_values(
    spark, tmp_path
):
    """r10 code review: 0 < |v| < 1 has a NEGATIVE log index; the
    unshifted encoding collided those with the opposite sign's key
    space and decoded 0.5 as ≈ −1.9. The offset keys must estimate
    every magnitude within the α bound."""
    import math as _m
    import random

    random.seed(23)
    vals = (
        [random.uniform(0.001, 0.999) for _ in range(150)]
        + [-random.uniform(0.001, 0.999) for _ in range(120)]
        + [random.uniform(1, 500) for _ in range(130)]
        + [-random.uniform(1, 500) for _ in range(100)]
        + [0.0] * 10
    )
    src = str(tmp_path / "fsrc")
    rol = str(tmp_path / "frol")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, "g", float(v)) for i, v in enumerate(vals)],
            "k int, grp string, v double",
        ),
    )
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "v", kind="quantile")
    alpha = (ivm.Q_GAMMA - 1) / (ivm.Q_GAMMA + 1)
    s = sorted(vals)
    for q in (0.05, 0.25, 0.5, 0.75, 0.95):
        est = _q_est(spark, rol, q)["g"]
        true = s[max(1, _m.ceil(q * len(s))) - 1]
        assert abs(est - true) <= alpha * abs(true) + 1e-12, (
            q, est, true,
        )


def test_quantile_format_guard_refuses_cross_encoding_merge(
    spark, tmp_path
):
    """r10 second review: the stored bucket keys are meaningful only
    under one (γ, offset) encoding — a maintainer facing a rollup
    stamped with a DIFFERENT encoding must refuse the delta merge
    (mixing key spaces silently corrupts every percentile) and
    demand an explicit rebuild, which re-stamps."""
    import os

    src = str(tmp_path / "src")
    rol = str(tmp_path / "rol")
    SN.write_snapshot(
        src, spark.createDataFrame([(1, "g", 5)], "k int, grp string, v int")
    )
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "v", kind="quantile")
    with open(os.path.join(rol, "_qformat")) as f:
        assert f.read() == ivm._Q_FORMAT
    # simulate a rollup persisted under an older encoding
    with open(os.path.join(rol, "_qformat"), "w") as f:
        f.write("ddsketch:v1:gamma=1.02:offset=0")
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(2, "g", 9)], "k int, grp string, v int"),
        key="k",
    )
    with pytest.raises(ValueError, match="not mergeable across"):
        ivm.maintain_aux_rollup(
            spark, src, rol, ["grp"], "v", kind="quantile"
        )
    # rebuild recomputes and re-stamps the current encoding
    out = ivm.maintain_aux_rollup(
        spark, src, rol, ["grp"], "v", kind="quantile", rebuild=True
    )
    assert out["mode"] == "rebuild"
    with open(os.path.join(rol, "_qformat")) as f:
        assert f.read() == ivm._Q_FORMAT

def test_qformat_marker_lost_over_committed_state_demands_rebuild(
    spark, tmp_path
):
    """r10 ADVICE low #4: a rollup dir holding committed sketch state
    with NO _qformat marker (partial copy/restore, pre-marker
    encoding) has an unknowable bucket-key encoding — silently
    re-stamping and delta-merging is exactly the mixed-key corruption
    the guard exists to stop. Demand rebuild=True instead."""
    src = str(tmp_path / "src")
    rol = str(tmp_path / "rol")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 2}", i * 3) for i in range(40)],
            "k int, grp string, v int",
        ),
    )
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "v", kind="quantile")
    os.remove(os.path.join(rol, "_qformat"))
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(100, "g0", 777)], "k int, grp string, v int"),
        key="k",
    )
    with pytest.raises(ValueError, match="no _qformat marker"):
        ivm.maintain_aux_rollup(
            spark, src, rol, ["grp"], "v", kind="quantile"
        )
    # explicit rebuild recomputes, re-stamps, and the chain resumes
    out = ivm.maintain_aux_rollup(
        spark, src, rol, ["grp"], "v", kind="quantile", rebuild=True
    )
    assert out["mode"] == "rebuild"
    assert os.path.exists(os.path.join(rol, "_qformat"))
    assert ivm.maintain_aux_rollup(
        spark, src, rol, ["grp"], "v", kind="quantile"
    )["mode"] == "noop"

# ---- round 11: time-bucketed rollup keys (r10 VERDICT #2) ----


def test_bucket_keyed_rollup_chain_equals_scratch(spark, tmp_path):
    """A rollup keyed on date_trunc('day', ts) with no materialized
    day column: full → delta chain must equal a from-scratch build,
    including deletes re-bucketing through the same expression."""
    import datetime as dt

    src = str(tmp_path / "src")
    rol = str(tmp_path / "rol")
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 20, i % 24), f"t{i % 3}", i)
        for i in range(300)
    ]
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            rows, "k int, ts timestamp, typ string, v int"
        ),
    )
    ke = {"day": "date_trunc('day', ts)"}
    out = ivm.maintain_rollup(
        spark, src, rol, ["day", "typ"], "v", key_exprs=ke
    )
    assert out["mode"] == "full"
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(1000, dt.datetime(2024, 2, 1, 5), "t0", 99)],
            "k int, ts timestamp, typ string, v int",
        ),
        key="k",
    )
    SN.delete_snapshot(spark, src, "v > 250")
    assert ivm.maintain_rollup(
        spark, src, rol, ["day", "typ"], "v", key_exprs=ke
    )["mode"] == "delta"
    scratch = str(tmp_path / "scratch")
    ivm.maintain_rollup(
        spark, src, scratch, ["day", "typ"], "v", key_exprs=ke
    )
    a = sorted(map(tuple, ivm.read_rollup(spark, rol).collect()))
    b = sorted(map(tuple, ivm.read_rollup(spark, scratch).collect()))
    assert a == b and len(a) > 20
    # the stored key is the truncated timestamp (midnight)
    assert all(r[0].hour == 0 and r[0].minute == 0 for r in a)


def test_bucket_spec_marker_guards_every_drift(spark, tmp_path):
    """_bucketspec marker: a tick under a different timezone,
    different expressions, or no expressions at all refuses loudly
    (mixed key encodings in one table — the _qformat rule); committed
    state with a LOST marker demands a rebuild; rebuild re-stamps."""
    import datetime as dt

    src = str(tmp_path / "src")
    rol = str(tmp_path / "rol")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, dt.datetime(2024, 3, 1 + i % 5, 12), i) for i in range(40)],
            "k int, ts timestamp, v int",
        ),
    )
    ke = {"day": "date_trunc('day', ts)"}
    ivm.maintain_rollup(spark, src, rol, ["day"], "v", key_exprs=ke)
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(99, dt.datetime(2024, 3, 9, 1), 7)],
            "k int, ts timestamp, v int",
        ),
        key="k",
    )
    # timezone drift
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="bucket spec"):
            ivm.maintain_rollup(spark, src, rol, ["day"], "v", key_exprs=ke)
    finally:
        spark.conf.unset("spark.sql.session.timeZone")
    # expression drift
    with pytest.raises(ValueError, match="bucket spec"):
        ivm.maintain_rollup(
            spark, src, rol, ["day"], "v",
            key_exprs={"day": "date_trunc('month', ts)"},
        )
    # identity tick on a bucket-keyed table
    with pytest.raises(ValueError, match="bucket spec"):
        ivm.maintain_rollup(spark, src, rol, ["day"], "v")
    # lost marker over committed state
    os.remove(os.path.join(rol, "_bucketspec"))
    with pytest.raises(ValueError, match="no _bucketspec marker"):
        ivm.maintain_rollup(spark, src, rol, ["day"], "v", key_exprs=ke)
    # rebuild re-stamps and the chain resumes
    assert ivm.maintain_rollup(
        spark, src, rol, ["day"], "v", key_exprs=ke, rebuild=True
    )["mode"] == "rebuild"
    assert ivm.maintain_rollup(
        spark, src, rol, ["day"], "v", key_exprs=ke
    )["mode"] == "noop"
    # CORRUPT marker: plain ticks refuse with the restore-or-rebuild
    # remedy, and rebuild=True must actually BE that remedy — the
    # guard may not probe the unreadable marker first (r11 code
    # review: it did, so the advertised recovery could never run)
    with open(os.path.join(rol, "_bucketspec"), "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="restore the marker or rebuild"):
        ivm.maintain_rollup(spark, src, rol, ["day"], "v", key_exprs=ke)
    assert ivm.maintain_rollup(
        spark, src, rol, ["day"], "v", key_exprs=ke, rebuild=True
    )["mode"] == "rebuild"
    assert ivm.maintain_rollup(
        spark, src, rol, ["day"], "v", key_exprs=ke
    )["mode"] == "noop"


def test_bucket_key_validation_is_loud(spark, tmp_path):
    """Closed vocabulary, no shadowing, keys ⊆ group_cols."""
    import datetime as dt

    src = str(tmp_path / "src")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), 1, 5)],
            "k int, ts timestamp, day int, v int",
        ),
    )
    with pytest.raises(ValueError, match="outside the vocabulary"):
        ivm.maintain_rollup(
            spark, src, str(tmp_path / "r1"), ["b"], "v",
            key_exprs={"b": "ts + interval 1 day"},
        )
    with pytest.raises(ValueError, match="not in group_cols"):
        ivm.maintain_rollup(
            spark, src, str(tmp_path / "r2"), ["k"], "v",
            key_exprs={"b": "year(ts)"},
        )
    # "day" is a REAL source column here — the bucket key would
    # silently replace it
    with pytest.raises(ValueError, match="shadow"):
        ivm.maintain_rollup(
            spark, src, str(tmp_path / "r3"), ["day"], "v",
            key_exprs={"day": "date_trunc('day', ts)"},
        )
    # canonicalization is exact about units
    with pytest.raises(ValueError, match="unit"):
        ivm.canonical_bucket_expr("date_trunc('minute', ts)")
    assert ivm.canonical_bucket_expr("DATE_TRUNC('Day', TS)") == (
        "date_trunc('day',ts)", "ts"
    )
    assert ivm.canonical_bucket_expr("year(ts)") == ("year(ts)", "ts")

def test_bucket_marker_stamps_only_after_commit(spark, tmp_path):
    """r11 code review: a rebuild that FAILS must leave the marker
    describing the encoding the committed rows actually have —
    stamping up front would let the next non-rebuild tick silently
    merge mixed encodings."""
    import datetime as dt

    src = str(tmp_path / "src")
    rol = str(tmp_path / "rol")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, dt.datetime(2024, 4, 1 + i % 6, 9), i) for i in range(30)],
            "k int, ts timestamp, v int",
        ),
    )
    old = {"day": "date_trunc('day', ts)"}
    ivm.maintain_rollup(spark, src, rol, ["day"], "v", key_exprs=old)
    stamped = ivm.read_bucketspec(rol)
    # a rebuild under a NEW encoding that fails mid-build (the bucket
    # source column vanishes at plan time) must NOT move the marker
    with pytest.raises(Exception):
        ivm.maintain_rollup(
            spark, src, rol, ["day"], "v",
            key_exprs={"day": "date_trunc('day', nope)"}, rebuild=True,
        )
    assert ivm.read_bucketspec(rol) == stamped
    # and the old-encoding chain still ticks (noop — nothing changed)
    assert ivm.maintain_rollup(
        spark, src, rol, ["day"], "v", key_exprs=old
    )["mode"] == "noop"
    # bucket→plain transition: a failed rebuild keeps the marker too
    with pytest.raises(Exception):
        ivm.maintain_rollup(
            spark, src, rol, ["nope_col"], "v", rebuild=True
        )
    assert ivm.read_bucketspec(rol) == stamped
    # a corrupt marker is a loud ValueError, not a JSON traceback
    with open(os.path.join(rol, "_bucketspec"), "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="not valid JSON"):
        ivm.maintain_rollup(spark, src, rol, ["day"], "v", key_exprs=old)


# --- the commit protocol every maintainer shares (_tick) -------------

@pytest.mark.parametrize(
    "maintainer",
    [
        "maintain_rollup",
        "maintain_rollup_from_rollup",
        "maintain_aux_rollup",
        "maintain_aux_rollup_from_rollup",
    ],
)
def test_tick_protocol_occ_fence_and_vacuum_rebuild(
    spark, tmp_path, monkeypatch, maintainer
):
    """Each maintainer, run through the one protocol: a tick that
    loses a race to another commit on the target raises
    SnapshotConflict and leaves the rollup unchanged, its retry
    applies the delta exactly once, and after the feed's history is
    vacuumed the next tick rebuilds to the scratch recompute."""
    src = str(tmp_path / "src")
    daily = str(tmp_path / "daily")
    out = str(tmp_path / "out")
    aux = "aux" in maintainer
    child = maintainer.endswith("_from_rollup")
    measures = ["min_val", "max_val"] if aux else ["sum_val"]
    keys = ["week", "t"] if child else ["day", "t"]
    base_fn = ivm.maintain_aux_rollup if aux else ivm.maintain_rollup
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, i % 14, f"t{i % 3}", i) for i in range(60)],
            ["k", "day", "t", "v"],
        ),
    )

    def tick():
        if child:
            return getattr(ivm, maintainer)(
                spark, daily, out, {"week": "day DIV 7", "t": "t"}
            )
        return base_fn(spark, src, out, ["day", "t"], "v")

    def commit(change):
        change(src)
        if child:
            base_fn(spark, src, daily, ["day", "t"], "v")

    def view():
        return sorted(
            tuple(r)
            for r in ivm.read_rollup(spark, out)
            .select(*keys, "n_rows", *measures)
            .collect()
        )

    def truth():
        aggs = [F.min("v"), F.max("v")] if aux else [F.sum("v")]
        return sorted(
            tuple(r)
            for r in SN.read_snapshot(spark, src)
            .withColumn("week", F.expr("day DIV 7"))
            .groupBy(*keys)
            .agg(F.count(F.lit(1)), *aggs)
            .collect()
        )

    if child:
        base_fn(spark, src, daily, ["day", "t"], "v")
    assert tick()["mode"] == "full"
    assert view() == truth()
    # an update that moves an extreme and an insert into a new group
    commit(
        lambda d: SN.merge_snapshot(
            spark, d,
            spark.createDataFrame(
                [(0, 13, "t0", 500), (1000, 3, "t9", -7)],
                ["k", "day", "t", "v"],
            ),
            key="k",
        )
    )
    before = view()
    real_diff = SN.snapshot_diff

    def racing_diff(*args, **kwargs):
        # a racing tick commits to the target after this one planned
        SN.compact(spark, out)
        return real_diff(*args, **kwargs)

    monkeypatch.setattr(ivm.SN, "snapshot_diff", racing_diff)
    with pytest.raises(SN.SnapshotConflict):
        tick()
    monkeypatch.undo()
    assert view() == before
    assert tick()["mode"] == "delta"
    assert view() == truth()
    assert tick()["mode"] == "noop"
    assert view() == truth()

    # delete a whole group and the row holding an extreme, then
    # vacuum the history the next delta would need
    commit(lambda d: SN.delete_snapshot(spark, d, "day = 5 OR k = 59"))
    commit(
        lambda d: SN.merge_snapshot(
            spark, d,
            spark.createDataFrame(
                [(2000, 1, "t1", 9)], ["k", "day", "t", "v"]
            ),
            key="k",
        )
    )
    SN.vacuum(daily if child else src, keep_versions=1)
    assert tick()["mode"] == "rebuild"
    assert view() == truth()


def test_additive_ticks_fold_every_kind_of_file_swap(spark, tmp_path):
    """Count/sum ticks fold the source range's file swap (removed
    files −1, added files +1) with no cancellation. Through scoped
    and full merges, a schema-adding merge, delete, update, append,
    compact and a source rollback, a plain rollup, a bucket-keyed one
    and a sum child of the latter equal a from-scratch aggregate after
    every tick, in the same modes and with the same ``_txns`` stamps
    as the cancelled-diff ticks; a compact-only tick changes no
    stored value. A child built after the parent tombstoned groups
    gets no zero rows for them: carried parent rows sum to nothing
    and are not merged."""
    import datetime as dt

    src = str(tmp_path / "src")
    plain, daily, weekly, late = (
        str(tmp_path / n) for n in ("plain", "daily", "weekly", "late")
    )
    schema = "k bigint, ts timestamp, grp string, val bigint"

    def rows(keys, shift=0):
        return spark.createDataFrame(
            [
                (
                    k,
                    dt.datetime(2024, 1, 1 + (k + shift) % 25, k % 24),
                    f"g{(k + shift) % 4}",
                    (k * 7 + shift) % 50,
                )
                for k in keys
            ],
            schema,
        )

    SN.write_snapshot(src, rows(range(120)), cluster_by=["k"], n_files=4)
    ke = {"day": "date_trunc('day', ts)"}
    wk = {"week": "date_trunc('week', day)", "grp": "grp"}

    def tick():
        return [
            ivm.maintain_rollup(spark, src, plain, ["grp"], "val")["mode"],
            ivm.maintain_rollup(
                spark, src, daily, ["day", "grp"], "val", key_exprs=ke
            )["mode"],
            ivm.maintain_rollup_from_rollup(spark, daily, weekly, wk)["mode"],
        ]

    def scratch():
        base = SN.read_snapshot(spark, src).withColumn(
            "day", F.expr(ke["day"])
        ).withColumn("week", F.expr(wk["week"]))
        return [
            sorted(
                tuple(r)
                for r in base.groupBy(*keys)
                .agg(F.count(F.lit(1)), F.sum("val"))
                .collect()
            )
            for keys in (["grp"], ["day", "grp"], ["week", "grp"])
        ]

    def views():
        return [
            sorted(
                tuple(r)
                for r in ivm.read_rollup(spark, d)
                .select(*keys, "n_rows", "sum_val")
                .collect()
            )
            for d, keys in (
                (plain, ["grp"]),
                (daily, ["day", "grp"]),
                (weekly, ["week", "grp"]),
            )
        ]

    def stored():
        return [
            sorted(map(tuple, SN.read_snapshot(spark, d).collect()))
            for d in (plain, daily, weekly)
        ]

    assert tick() == ["full"] * 3
    assert views() == scratch()
    commits = [
        lambda: SN.merge_snapshot(
            spark, src, rows([3, 7, 200, 201], shift=5), "k", scope_by="k"
        ),
        lambda: SN.merge_snapshot(spark, src, rows(range(40, 60), 2), "k"),
        lambda: SN.merge_snapshot(
            spark, src,
            rows([61, 300], shift=9).withColumn("extra", F.lit(1)),
            "k", scope_by="k",
        ),
        lambda: SN.delete_snapshot(spark, src, "k % 9 = 0 OR grp = 'g3'"),
        lambda: SN.update_snapshot(
            spark, src, "k < 30", {"val": "val + 100", "grp": "'g9'"}
        ),
        lambda: SN.write_snapshot(
            src,
            rows(range(400, 410)).withColumn("extra", F.lit(2)),
            mode="append",
        ),
        lambda: SN.compact(spark, src, target_files=2, cluster_by=["k"]),
        lambda: SN.rollback(src, 3),
    ]
    def weeks(d):
        cols = ["week", "grp", "n_rows", "sum_val"]
        return sorted(
            map(tuple, SN.read_snapshot(spark, d).select(cols).collect())
        )

    emptied = None
    for i, commit in enumerate(commits):
        before = stored()
        commit()
        assert tick() == ["delta"] * 3, i
        assert views() == scratch(), i
        if i == 6:  # compact only moves rows between files
            assert stored() == before
        assert tick() == ["noop"] * 3
        if emptied is not None:
            assert ivm.maintain_rollup_from_rollup(
                spark, daily, late, wk
            )["mode"] == "delta"
            assert weeks(late) == [
                r for r in weeks(weekly) if r[2] or r[:2] not in emptied
            ], i
        elif i == 3:  # the delete tombstoned every 'g3' group
            assert ivm.maintain_rollup_from_rollup(
                spark, daily, late, wk
            )["mode"] == "full"
            emptied = {r[:2] for r in weeks(weekly) if not r[2]}
            assert emptied
    versions = [f"ivm:src_v{v}" for v in range(len(commits) + 1)]
    assert SN.committed_ops(plain) == versions
    assert SN.committed_ops(daily) == versions
    assert SN.committed_ops(weekly) == versions


def test_replayed_child_ticks_run_no_spark_job(spark, tmp_path):
    """A replayed hierarchical tick (sum or aux) returns its noop
    before reading the parent: zero Spark jobs, as a replayed
    base-fed tick."""
    from tests.conftest import spark_jobs

    src = str(tmp_path / "src")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, i % 14, f"t{i % 3}", i) for i in range(40)],
            ["k", "day", "t", "v"],
        ),
    )
    sums, mins = str(tmp_path / "sums"), str(tmp_path / "mins")
    ke = {"week": "day DIV 7", "t": "t"}
    ticks = {
        "sum": lambda: ivm.maintain_rollup(spark, src, sums, ["day", "t"], "v"),
        "aux": lambda: ivm.maintain_aux_rollup(
            spark, src, mins, ["day", "t"], "v"
        ),
        "sum_child": lambda: ivm.maintain_rollup_from_rollup(
            spark, sums, str(tmp_path / "sum_child"), ke
        ),
        "aux_child": lambda: ivm.maintain_aux_rollup_from_rollup(
            spark, mins, str(tmp_path / "aux_child"), ke
        ),
    }
    for name, fn in ticks.items():
        assert fn()["mode"] == "full", name
        out, jobs = spark_jobs(spark, fn)
        assert out["mode"] == "noop" and jobs == 0, (name, jobs)
