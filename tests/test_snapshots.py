"""Snapshot table format: append/overwrite/merge commits, time
travel, rollback, compaction, OCC conflicts, vacuum retention."""

from __future__ import annotations

import os

import pytest

from ensembl_lakehouse_spark import snapshots as S


def _rows(spark, df):
    return sorted((r.k, r.v) for r in df.collect())


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def test_append_overwrite_time_travel(spark, tdir):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    df2 = spark.createDataFrame([(3, "c")], ["k", "v"])
    assert S.write_snapshot(tdir, df1) == 0
    assert S.write_snapshot(tdir, df2, mode="append") == 1
    assert _rows(spark, S.read_snapshot(spark, tdir)) == [(1, "a"), (2, "b"), (3, "c")]
    # time travel to v0
    assert _rows(spark, S.read_snapshot(spark, tdir, version=0)) == [(1, "a"), (2, "b")]
    # overwrite replaces logical content but v0/v1 stay readable
    S.write_snapshot(tdir, df2, mode="overwrite")
    assert _rows(spark, S.read_snapshot(spark, tdir)) == [(3, "c")]
    assert _rows(spark, S.read_snapshot(spark, tdir, version=1)) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    ops = [h["op"] for h in S.history(tdir)]
    assert ops == ["overwrite", "append", "overwrite"]


def test_merge_upsert_and_rollback(spark, tdir):
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    S.merge_snapshot(
        spark, tdir, spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"]), key="k"
    )
    assert _rows(spark, S.read_snapshot(spark, tdir)) == [(1, "a"), (2, "B"), (4, "d")]
    v = S.rollback(tdir, 0)
    assert v == 2
    assert _rows(spark, S.read_snapshot(spark, tdir)) == [(1, "a"), (2, "b")]
    # the rolled-back-over merge remains time-travelable
    assert (2, "B") in _rows(spark, S.read_snapshot(spark, tdir, version=1))


def test_occ_conflict_detected(spark, tdir):
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    S.write_snapshot(tdir, df)
    S.write_snapshot(tdir, df, mode="append")  # moves table to v1
    with pytest.raises(S.SnapshotConflict):
        S.write_snapshot(tdir, df, mode="append", expect_version=0)
    # table unchanged by the failed commit
    assert S.current_version(tdir) == 1


def test_compact_preserves_content_reduces_files(spark, tdir):
    df = spark.createDataFrame([(i, str(i)) for i in range(100)], ["k", "v"])
    S.write_snapshot(tdir, df.repartition(8))
    before = S.history(tdir)[-1]["n_files"]
    assert before >= 8
    S.compact(spark, tdir, target_files=1)
    assert S.history(tdir)[-1]["n_files"] == 1
    assert _rows(spark, S.read_snapshot(spark, tdir)) == sorted(
        (i, str(i)) for i in range(100)
    )


def test_vacuum_drops_only_unreferenced(spark, tdir):
    for i in range(4):
        S.write_snapshot(tdir, spark.createDataFrame([(i, "x")], ["k", "v"]))
    removed = S.vacuum(tdir, keep_versions=2)
    assert removed  # v0/v1 data gone
    # newest two still readable
    assert _rows(spark, S.read_snapshot(spark, tdir, version=2)) == [(2, "x")]
    assert _rows(spark, S.read_snapshot(spark, tdir, version=3)) == [(3, "x")]
    with pytest.raises(FileNotFoundError):
        S._read_manifest(tdir, 0)


def test_pointer_survives_like_restart(spark, tdir):
    # a "restart" is just a fresh resolve from disk: no in-memory state
    S.write_snapshot(tdir, spark.createDataFrame([(7, "z")], ["k", "v"]))
    assert S.current_version(tdir) == 0
    assert os.path.exists(os.path.join(tdir, "_current"))
    assert _rows(spark, S.read_snapshot(spark, tdir)) == [(7, "z")]


def test_stray_tmp_manifest_is_tolerated_and_vacuumed(spark, tdir):
    """A crash between the manifest tmp write and the os.replace
    leaves a stray .tmp file; history/committed_ops must ignore it
    and vacuum must sweep it."""
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a")], ["k", "v"]))
    S.write_snapshot(tdir, spark.createDataFrame([(2, "b")], ["k", "v"]), mode="append")
    stray = os.path.join(tdir, "_manifests", "v2.json.tmp-deadbeef")
    with open(stray, "w") as f:
        f.write("{not json")
    assert [h["version"] for h in S.history(tdir)] == [0, 1]
    assert len(S.committed_ops(tdir)) == 2
    S.vacuum(tdir, keep_versions=2)
    assert not os.path.exists(stray)
    assert [h["version"] for h in S.history(tdir)] == [0, 1]


def test_history_records_parent_lineage(spark, tdir):
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a")], ["k", "v"]))
    S.write_snapshot(tdir, spark.createDataFrame([(2, "b")], ["k", "v"]), mode="append")
    S.rollback(tdir, 0)
    parents = [h["parent"] for h in S.history(tdir)]
    assert parents == [None, 0, 1]
    assert S.history(tdir)[-1]["op"] == "rollback:v0"


def test_concurrent_appends_never_lose_updates(spark, tdir):
    """Real thread contention on one table: every append either
    commits or raises SnapshotConflict — winners' rows all present,
    version count equals winner count, history is a clean chain."""
    from concurrent.futures import ThreadPoolExecutor

    S.write_snapshot(tdir, spark.createDataFrame([(0, "seed")], ["k", "v"]))

    def append(i: int):
        try:
            S.write_snapshot(
                tdir,
                spark.createDataFrame([(100 + i, f"w{i}")], ["k", "v"]),
                mode="append",
            )
            return i
        except S.SnapshotConflict:
            return None

    with ThreadPoolExecutor(max_workers=8) as pool:
        winners = [i for i in pool.map(append, range(8)) if i is not None]

    assert winners, "at least one append must win each round"
    assert S.current_version(tdir) == len(winners)
    rows = _rows(spark, S.read_snapshot(spark, tdir))
    assert (0, "seed") in rows
    for i in winners:
        assert (100 + i, f"w{i}") in rows, f"winner {i}'s commit was lost"
    # chain integrity: each retained version's parent is its predecessor
    hist = S.history(tdir)
    assert [h["parent"] for h in hist] == [None] + [
        h["version"] for h in hist[:-1]
    ]


def test_snapshot_diff_row_and_key_level(spark, tdir):
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    )
    S.merge_snapshot(
        spark, tdir, spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"]), key="k"
    )
    # key-level: 2 updated, 4 inserted, nothing deleted
    changes = {
        r.k: (r._change, r._row.v)
        for r in S.snapshot_diff(spark, tdir, 0, key="k").collect()
    }
    assert changes == {2: ("update", "B"), 4: ("insert", "d")}
    # row-level: update shows as delete+insert
    row_changes = sorted(
        (r.k, r.v, r._change)
        for r in S.snapshot_diff(spark, tdir, 0).collect()
    )
    assert row_changes == [
        (2, "B", "insert"), (2, "b", "delete"), (4, "d", "insert"),
    ]
    # a deletion: overwrite without key 3
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a"), (2, "B"), (4, "d")], ["k", "v"])
    )
    d = {r.k: r._change for r in S.snapshot_diff(spark, tdir, 1, key="k").collect()}
    assert d == {3: "delete"}


def test_vacuum_widening_after_narrow_vacuum(spark, tdir):
    """Advice repro: vacuum(keep=2) then vacuum(keep=5) must not
    crash reading manifests the first vacuum already deleted."""
    for i in range(6):
        S.write_snapshot(tdir, spark.createDataFrame([(i, "x")], ["k", "v"]))
    S.vacuum(tdir, keep_versions=2)
    removed = S.vacuum(tdir, keep_versions=5)  # wider window, no crash
    assert removed == []  # nothing extra to drop
    assert _rows(spark, S.read_snapshot(spark, tdir)) == [(5, "x")]


def test_txn_stamps_survive_vacuum(spark, tdir):
    """Exactly-once stamps are retention-independent: an op committed
    before an aggressive vacuum still reads as done, so a replayed
    old batch/chunk stays a no-op."""
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a")], ["k", "v"]))
    S.merge_snapshot(
        spark, tdir, spark.createDataFrame([(2, "b")], ["k", "v"]),
        key="k", op="batch:epoch=0/batch=0",
    )
    for i in range(3, 7):
        S.write_snapshot(
            tdir, spark.createDataFrame([(i, "x")], ["k", "v"]), mode="append"
        )
    S.vacuum(tdir, keep_versions=1)
    ops = S.committed_ops(tdir)
    assert "batch:epoch=0/batch=0" in ops
    assert ops == sorted(ops, key=ops.index)  # oldest-first, stable
    # and the retained manifest's op is still present exactly once
    assert ops.count("append") >= 1


def test_data_skipping_prunes_files_and_matches_full_scan(spark, tdir):
    """Manifest min/max stats: a range read plans only overlapping
    files, returns exactly the full-scan-filter rows, and files
    without stats stay unprunable (conservative)."""
    df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    S.write_snapshot(tdir, df.repartitionByRange(8, "k"))
    m = S._read_manifest(tdir, 0)
    assert m["stats"], "stats recorded for fresh files"

    keep, total = S.files_for_range(tdir, "k", 100, 150)
    assert total == len(m["files"])
    assert 0 < len(keep) < total  # actual skipping happened

    pruned = S.read_snapshot(spark, tdir, where_between=("k", 100, 150))
    full = S.read_snapshot(spark, tdir).where("k BETWEEN 100 AND 150")
    assert sorted(r.k for r in pruned.collect()) == sorted(
        r.k for r in full.collect()
    )

    # out-of-domain range: zero files planned, schema intact
    empty = S.read_snapshot(spark, tdir, where_between=("k", 5000, 6000))
    assert empty.count() == 0 and empty.columns == ["k", "v"]

    # stats survive append carry-forward and rollback
    S.write_snapshot(
        tdir,
        spark.range(2000, 2100).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
        mode="append",
    )
    keep2, total2 = S.files_for_range(tdir, "k", 2000, 2050)
    assert total2 > total and 0 < len(keep2) < total2
    S.rollback(tdir, 0)
    assert S._read_manifest(tdir, S.current_version(tdir))["stats"]

    # a manifest without stats (pre-feature table) is fully readable
    # and fully unprunable
    import json as _json, os as _os

    mpath = _os.path.join(tdir, "_manifests", f"v{S.current_version(tdir)}.json")
    # rewrite the stored (possibly delta) form as a resolved FULL
    # manifest without stats — the shape a pre-feature table left
    m = dict(S._read_manifest(tdir, S.current_version(tdir)))
    m.pop("stats")
    m["kind"] = "full"
    m["chain"] = 0
    with open(mpath, "w") as f:
        _json.dump(m, f)
    S._RESOLVE_CACHE.clear()
    keep3, total3 = S.files_for_range(tdir, "k", 100, 150)
    assert len(keep3) == total3


def test_clustered_write_improves_skipping(spark, tdir):
    """cluster_by makes file stats disjoint: a narrow range read
    plans ~1 file instead of all of them; unclustered (round-robin)
    writes of the same data cannot prune at all."""
    df = spark.range(0, 4000).selectExpr(
        "CAST(pmod(id * 2654435761, 4096) AS BIGINT) AS k", "id AS v"
    )
    S.write_snapshot(tdir, df.repartition(8), cluster_by=["k"], n_files=8)
    keep, total = S.files_for_range(tdir, "k", 100, 150)
    assert total == 8 and len(keep) <= 2

    flat = str(tdir) + "_flat"
    S.write_snapshot(flat, df.repartition(8))  # hash layout: every file spans k
    keep_f, total_f = S.files_for_range(flat, "k", 100, 150)
    assert total_f == 8 and len(keep_f) == 8

    got = sorted(
        r.v for r in S.read_snapshot(
            spark, tdir, where_between=("k", 100, 150)
        ).collect()
    )
    want = sorted(r.v for r in df.where("k BETWEEN 100 AND 150").collect())
    assert got == want


def test_nan_stats_never_skip_files(spark, tdir):
    """Review regression (reproduced pre-fix): Spark writes max=NaN
    parquet stats for double columns containing NaN; NaN compares
    False in the overlap test, so the file was skipped and rows
    silently lost. Non-finite stats must leave the column unprunable
    for that file."""
    import math

    df = spark.createDataFrame(
        [(1, float("nan")), (2, 5.0), (3, 7.0)], ["k", "x"]
    ).coalesce(1)
    S.write_snapshot(tdir, df)
    stats = S._read_manifest(tdir, 0)["stats"]
    for cols in stats.values():
        assert "x" not in cols  # NaN-poisoned column dropped from stats
        for lo, hi in cols.values():
            assert math.isfinite(lo) and math.isfinite(hi)
    got = S.read_snapshot(spark, tdir, where_between=("x", 5, 10)).collect()
    assert sorted(r.k for r in got) == [2, 3]


def test_clustered_compaction_restores_skipping(spark, tdir):
    """Arrival-order appends prune nothing; compact(cluster_by=)
    makes the SAME data range-selective again, content unchanged."""
    import random

    rnd = random.Random(7)
    ids = list(range(2000))
    rnd.shuffle(ids)
    for batch in range(4):  # interleaved arrival order
        chunk = ids[batch * 500 : (batch + 1) * 500]
        S.write_snapshot(
            tdir,
            spark.createDataFrame([(k, batch) for k in chunk], ["k", "b"]).coalesce(2),
            mode="append" if batch else "overwrite",
        )
    keep_before, total_before = S.files_for_range(tdir, "k", 100, 199)
    assert len(keep_before) == total_before  # nothing prunable

    S.compact(spark, tdir, target_files=8, cluster_by=["k"])
    keep_after, total_after = S.files_for_range(tdir, "k", 100, 199)
    assert total_after == 8 and len(keep_after) <= 2
    got = sorted(
        r.k for r in S.read_snapshot(
            spark, tdir, where_between=("k", 100, 199)
        ).collect()
    )
    assert got == list(range(100, 200))
    assert S.read_snapshot(spark, tdir).count() == 2000


def test_zorder_cluster_gives_two_dimensional_skipping(spark, tdir):
    """Snapshot written clustered on the Morton key prunes files on
    EITHER dimension; results equal the full-scan filters."""
    from ensembl_lakehouse_spark.sources.layout import with_morton_key

    df = spark.range(0, 4096).selectExpr(
        "CAST(id % 64 AS BIGINT) AS x", "CAST(id div 64 AS BIGINT) AS y", "id AS v"
    )
    S.write_snapshot(tdir, with_morton_key(df, "x", "y"), cluster_by=["_zval"], n_files=16)
    for col, lo, hi in (("x", 0, 7), ("y", 0, 7)):
        keep, total = S.files_for_range(tdir, col, lo, hi)
        assert total == 16 and len(keep) < total, (col, len(keep))
        got = sorted(
            r.v for r in S.read_snapshot(
                spark, tdir, where_between=(col, lo, hi)
            ).collect()
        )
        want = sorted(
            r.v for r in df.where(f"{col} BETWEEN {lo} AND {hi}").collect()
        )
        assert got == want


def test_incomparable_skip_bound_keeps_files_instead_of_raising(spark, tdir):
    """ADVICE r4 regression: a string/date bound against numeric
    file stats used to raise TypeError from the skip path; it must
    degrade to the documented conservative keep-everything plan."""
    df = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    S.write_snapshot(tdir, df.repartitionByRange(4, "k"))
    keep, total = S.files_for_range(tdir, "k", "a", "z")
    assert keep and len(keep) == total  # nothing skipped, nothing raised
    got = S.read_snapshot(spark, tdir, where_between=("v", 10, 20))
    # v carries no stats (string) -> unprunable; filter still applies
    assert got.count() == spark.range(0, 100).where(
        "CAST(id AS STRING) >= 10 AND CAST(id AS STRING) <= 20"
    ).count()


def test_bloom_point_lookup_prunes_inside_overlapping_ranges(spark, tdir):
    """Round 5: per-file blooms prune point lookups that min/max
    CANNOT (interleaved ids make every file's range cover every
    value); results always equal the full-scan filter, absent values
    plan zero files, and bloom-less files stay conservative."""
    evens = spark.createDataFrame(
        [(i, f"e{i}") for i in range(0, 200, 2)], ["k", "v"]
    ).coalesce(1)
    odds = spark.createDataFrame(
        [(i, f"o{i}") for i in range(1, 200, 2)], ["k", "v"]
    ).coalesce(1)
    S.write_snapshot(tdir, evens, bloom_for=["k"])
    S.write_snapshot(tdir, odds, mode="append", bloom_for=["k"])

    # min/max alone keeps BOTH files (ranges fully overlap)...
    range_keep, total = S.files_for_range(tdir, "k", 42, 42)
    assert total == 2 and len(range_keep) == 2
    # ...the bloom stage prunes to the one real carrier
    point_keep, _ = S.files_for_point(tdir, "k", 42)
    assert len(point_keep) == 1

    # no false negatives: every present value is found, exactly
    for probe in (0, 1, 42, 43, 198, 199):
        got = S.read_snapshot(spark, tdir, where_eq=("k", probe)).collect()
        assert [(r.k, r.v) for r in got] == [
            (probe, ("e" if probe % 2 == 0 else "o") + str(probe))
        ]
    # absent value: zero files planned, schema intact, zero rows
    keep_absent, _ = S.files_for_point(tdir, "k", 5000)
    assert keep_absent == []
    empty = S.read_snapshot(spark, tdir, where_eq=("k", 5000))
    assert empty.columns == ["k", "v"] and empty.count() == 0

    # string column without a bloom: conservative (kept), exact filter
    got = S.read_snapshot(spark, tdir, where_eq=("v", "o57")).collect()
    assert [(r.k, r.v) for r in got] == [(57, "o57")]

    # blooms ride compaction too
    S.compact(spark, tdir, target_files=4, cluster_by=["k"], bloom_for=["k"])
    keep_c, total_c = S.files_for_point(tdir, "k", 42)
    assert len(keep_c) == 1 and total_c == 4
    got = S.read_snapshot(spark, tdir, where_eq=("k", 42)).collect()
    assert [(r.k, r.v) for r in got] == [(42, "e42")]


def test_where_eq_rejects_null_and_nan(spark, tdir):
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, 1.0)], ["k", "x"]).coalesce(1)
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-NULL"):
        S.read_snapshot(spark, tdir, where_eq=("k", None))
    with _pytest.raises(ValueError, match="non-NULL"):
        S.read_snapshot(spark, tdir, where_eq=("x", float("nan")))


def test_schema_evolution_on_append_and_merge(spark, tdir):
    """Round 5: a commit may ADD columns. Existing rows read NULL in
    the new column from that version on, earlier versions keep their
    own schema under time travel, and merge carries old rows through
    a widened schema without loss."""
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).coalesce(1)
    )
    # v1: append with an extra column
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(3, "c", 30)], ["k", "v", "extra"]).coalesce(1),
        mode="append",
    )
    cur = S.read_snapshot(spark, tdir)
    assert set(cur.columns) == {"k", "v", "extra"}
    got = {r.k: (r.v, r.extra) for r in cur.collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}
    # time travel: v0 keeps the narrow schema
    v0 = S.read_snapshot(spark, tdir, version=0)
    assert v0.columns == ["k", "v"] and v0.count() == 2

    # v2: MERGE with a further column + an update + an omitted column
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(2, "B2", 99)], ["k", "v", "score"]),
        key="k",
    )
    m = S.read_snapshot(spark, tdir)
    assert set(m.columns) == {"k", "v", "extra", "score"}
    rows = {r.k: (r.v, r.extra, r.score) for r in m.collect()}
    assert rows[2] == ("B2", None, 99)   # upserted whole-row
    assert rows[1] == ("a", None, None)  # carried forward, null-filled
    assert rows[3] == ("c", 30, None)

    # skipping on the evolved column stays sound: old files carry no
    # stats for it (conservative keep), values still filter exactly
    got = S.read_snapshot(spark, tdir, where_between=("score", 50, 100))
    assert [(r.k, r.score) for r in got.collect()] == [(2, 99)]


def test_scoped_merge_rewrites_only_intersecting_files(spark, tdir):
    """Round 5: merge_snapshot(scope_by=key) must carry
    non-intersecting files BY REFERENCE (identical paths, stats and
    blooms intact) while producing exactly the full-rewrite logical
    content."""
    df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    S.write_snapshot(
        tdir, df, cluster_by=["k"], n_files=8, bloom_for=["k"]
    )
    before = S._read_manifest(tdir, 0)
    assert len(before["files"]) == 8

    upd = spark.createDataFrame(
        [(5, "FIVE"), (7, "SEVEN"), (1500, "NEW")], ["k", "v"]
    )
    S.merge_snapshot(spark, tdir, upd, key="k", scope_by="k")
    after = S._read_manifest(tdir, 1)

    carried = set(before["files"]) & set(after["files"])
    rewritten = set(before["files"]) - set(after["files"])
    # k∈{5,7,1500} spans the first clustered file plus the insert:
    # at most 2 of 8 original files may intersect; most carry over
    assert len(carried) >= 6, (carried, rewritten)
    # carried files keep their skipping metadata
    for f in carried:
        assert after["stats"].get(f) == before["stats"].get(f)
        assert after["blooms"].get(f) == before["blooms"].get(f)

    got = {r.k: r.v for r in S.read_snapshot(spark, tdir).collect()}
    assert len(got) == 1001
    assert got[5] == "FIVE" and got[7] == "SEVEN" and got[1500] == "NEW"
    assert got[6] == "6" and got[999] == "999"

    # pure insert outside every file's range: zero rewrites
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(2000, "X")], ["k", "v"]),
        key="k", scope_by="k",
    )
    m2 = S._read_manifest(tdir, 2)
    assert set(after["files"]) <= set(m2["files"])
    assert S.read_snapshot(spark, tdir).count() == 1002

    # guard: scoping on a non-key column is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be one of the merge keys"):
        S.merge_snapshot(
            spark, tdir,
            spark.createDataFrame([(1, "y")], ["k", "v"]),
            key="k", scope_by="v",
        )
    with _pytest.raises(ValueError, match="NULL"):
        S.merge_snapshot(
            spark, tdir,
            spark.createDataFrame([(None, "y")], "k BIGINT, v STRING"),
            key="k", scope_by="k",
        )


def test_scoped_merge_equals_full_merge(spark, tdir, tmp_path):
    """Property: scoped and unscoped merges produce identical logical
    content on the same inputs."""
    import os as _os

    other = str(tmp_path / "full_twin")
    df = spark.range(0, 500).selectExpr(
        "id AS k", "id * 2 AS a", "CAST(id AS STRING) AS b"
    )
    S.write_snapshot(tdir, df, cluster_by=["k"], n_files=5)
    S.write_snapshot(other, df, cluster_by=["k"], n_files=5)
    upd = spark.createDataFrame(
        [(10, 1111, "u10"), (499, 2222, "u499"), (900, 3333, "n900")],
        ["k", "a", "b"],
    )
    S.merge_snapshot(spark, tdir, upd, key="k", scope_by="k")
    S.merge_snapshot(spark, other, upd, key="k")
    left = sorted(map(tuple, S.read_snapshot(spark, tdir).collect()))
    right = sorted(map(tuple, S.read_snapshot(spark, other).collect()))
    assert left == right


def test_bloom_int_float_key_equivalence(spark, tdir):
    """Review regression: SQL equality treats 3 and 3.0 equal, so the
    bloom must too — distinct keys were a FALSE NEGATIVE (pruned the
    carrier file on a float-typed probe of an int column)."""
    S.write_snapshot(
        tdir,
        spark.range(0, 100).selectExpr("id AS k").coalesce(1),
        bloom_for=["k"],
    )
    m = S._read_manifest(tdir, 0)
    bloom = next(iter(m["blooms"].values()))["k"]
    assert S._bloom_maybe_contains(bloom, 42)
    assert S._bloom_maybe_contains(bloom, 42.0)  # the r5 review bug
    assert not S._bloom_maybe_contains(bloom, 4242)
    got = S.read_snapshot(spark, tdir, where_eq=("k", 42.0)).collect()
    assert [r.k for r in got] == [42]


def test_point_and_range_reads_on_evolved_column(spark, tdir):
    """Review regression: pruning that keeps only pre-evolution files
    must return an empty frame under the merged schema, not raise
    UNRESOLVED_COLUMN."""
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a")], ["k", "v"]).coalesce(1)
    )
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(100, "b", 7)], ["k", "v", "extra"]).coalesce(1),
        mode="append",
    )
    # probe misses the new file's stats -> only the stat-less old
    # file survives pruning, and it lacks 'extra'
    got = S.read_snapshot(spark, tdir, where_eq=("extra", 999))
    assert set(got.columns) == {"k", "v", "extra"} and got.count() == 0
    got = S.read_snapshot(spark, tdir, where_between=("extra", 900, 950))
    assert set(got.columns) == {"k", "v", "extra"} and got.count() == 0
    # present value still found
    got = S.read_snapshot(spark, tdir, where_eq=("extra", 7)).collect()
    assert [(r.k, r.extra) for r in got] == [(100, 7)]


def test_rollback_preserves_blooms(spark, tdir):
    """Review regression: rollback carried stats but dropped blooms,
    silently degrading point lookups in the restored version."""
    S.write_snapshot(
        tdir,
        spark.range(0, 100).selectExpr("id AS k").coalesce(1),
        bloom_for=["k"],
    )
    S.write_snapshot(
        tdir, spark.range(100, 200).selectExpr("id AS k"), mode="overwrite"
    )
    v = S.rollback(tdir, 0)
    m = S._read_manifest(tdir, v)
    assert m["blooms"], "restored version lost its blooms"
    keep, _ = S.files_for_point(tdir, "k", 5000)
    assert keep == []  # bloom still prunes the absent value


def test_merge_bloom_for_keeps_pruning_alive(spark, tdir):
    """Review regression: merges on a bloom-maintained table used to
    strip blooms from every rewritten file."""
    S.write_snapshot(
        tdir,
        spark.range(0, 400).selectExpr("id AS k", "CAST(id AS STRING) v"),
        cluster_by=["k"], n_files=4, bloom_for=["k"],
    )
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(7, "X")], ["k", "v"]),
        key="k", scope_by="k", bloom_for=["k"],
    )
    m = S._read_manifest(tdir, 1)
    # every file in the new manifest carries a bloom (carried + fresh)
    assert set(m["blooms"]) == set(m["files"])
    keep, total = S.files_for_point(tdir, "k", 7)
    assert len(keep) == 1 and total == len(m["files"])


def test_scoped_merge_null_guard_beyond_value_cap(spark, tdir, monkeypatch):
    """Review regression: the NULL-key guard must fire even when the
    distinct scope values exceed the per-value cap."""
    import pytest as _pytest

    S.write_snapshot(tdir, spark.range(0, 10).selectExpr("id AS k", "id AS a"))
    monkeypatch.setattr(S, "_SCOPE_VALUES_CAP", 3)
    upd = spark.createDataFrame(
        [(i, i) for i in range(20)] + [(None, 99)], "k BIGINT, a BIGINT"
    )
    with _pytest.raises(ValueError, match="NULL"):
        S.merge_snapshot(spark, tdir, upd, key="k", scope_by="k")


def test_snapshot_diff_skips_shared_files(spark, tdir):
    """skip_shared (default) must plan ONLY the files an append/MERGE
    touched — and return exactly what the two-full-scan form does."""
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    )
    S.write_snapshot(
        tdir, spark.createDataFrame([(4, "d"), (5, "e")], ["k", "v"]),
        mode="append",
    )
    m0 = S._read_manifest(tdir, 0)
    m1 = S._read_manifest(tdir, 1)
    shared = set(m0["files"]) & set(m1["files"])
    assert shared, "append must carry v0's files by reference"

    fast = S.snapshot_diff(spark, tdir, 0, 1, key="k")
    slow = S.snapshot_diff(spark, tdir, 0, 1, key="k", skip_shared=False)
    assert sorted((r.k, r._change, r._row.v) for r in fast.collect()) == sorted(
        (r.k, r._change, r._row.v) for r in slow.collect()
    ) == [(4, "insert", "d"), (5, "insert", "e")]
    planned = {f.split("/")[-1] for f in fast.inputFiles()}
    assert not planned & {f.split("/")[-1] for f in shared}, (
        "a shared file was planned by the skipping diff"
    )
    # row-level multiset form takes the same shortcut
    fast_rows = S.snapshot_diff(spark, tdir, 0, 1)
    assert sorted((r.k, r.v, r._change) for r in fast_rows.collect()) == [
        (4, "d", "insert"), (5, "e", "insert"),
    ]
    assert not {f.split("/")[-1] for f in fast_rows.inputFiles()} & {
        f.split("/")[-1] for f in shared
    }


def test_snapshot_diff_skip_shared_schema_evolution(spark, tdir):
    """A schema-adding append diffs identically with and without
    skipping: the subset reads are NULL-aligned to the union schema,
    matching what a full mergeSchema read would produce."""
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a")], ["k", "v"]))
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(2, "b", 9.5)], ["k", "v", "score"]),
        mode="append",
    )
    fast = {
        (r.k, r.v, r.score, r._change)
        for r in S.snapshot_diff(spark, tdir, 0, 1).collect()
    }
    assert fast == {(2, "b", 9.5, "insert")}
    # and a key-level diff across the evolution stays consistent
    kfast = {
        (r.k, r._change)
        for r in S.snapshot_diff(spark, tdir, 0, 1, key="k").collect()
    }
    assert kfast == {(2, "insert")}


def test_bloom_cross_typed_probe_never_false_negative(spark, tdir):
    """r5 ADVICE (medium): Spark equality COERCES across types
    (bigint_col = '42' matches 42, int_col = true matches 1) but
    _bloom_key keys types distinctly — a cross-typed probe must keep
    the file (conservative), never skip it and silently return empty."""
    S.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(42, "x", True), (7, "y", False)], ["k", "v", "flag"]
        ).coalesce(1),
        bloom_for=["k", "v", "flag"],
    )
    m = S._read_manifest(tdir, 0)
    blooms = next(iter(m["blooms"].values()))
    # stored types are recorded per column
    assert blooms["k"]["types"] == ["i"]
    assert blooms["v"]["types"] == ["s"]
    assert blooms["flag"]["types"] == ["b"]
    # string probe on int column: unprunable (Spark coerces '42' -> 42)
    assert S._bloom_maybe_contains(blooms["k"], "42")
    assert S._bloom_maybe_contains(blooms["k"], "999")  # even absent
    # bool probe on int column / int probe on bool column: unprunable
    assert S._bloom_maybe_contains(blooms["flag"], 1)
    assert S._bloom_maybe_contains(blooms["k"], True)
    # numeric probe on string column: unprunable (any spelling casts)
    assert S._bloom_maybe_contains(blooms["v"], 42)
    # same-typed probes still prune
    assert not S._bloom_maybe_contains(blooms["k"], 999)
    assert not S._bloom_maybe_contains(blooms["v"], "zz")
    # end-to-end: the documented no-lost-row contract under coercion
    got = S.read_snapshot(spark, tdir, where_eq=("k", "42")).collect()
    assert [(r.k, r.v) for r in got] == [(42, "x")]
    # (bool = 1 is an ANSI analysis error in Spark 4, so there is no
    # end-to-end path for it — the bloom-level conservatism above is
    # the contract, covering engines where it does coerce)
    # legacy blooms (no "types" record) are treated as unprunable
    legacy = {k: v for k, v in blooms["k"].items() if k != "types"}
    assert S._bloom_maybe_contains(legacy, 999)


def test_scoped_merge_prunes_on_bloom_for_string_keys(spark, tdir):
    """r5 ADVICE: _file_stats records no string stats, so scoped MERGE
    on a string key (the high-cardinality doc_id case) must fall back
    to the per-file BLOOM alone — not degrade to a full rewrite."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 400)
        .select(F.concat(F.lit("doc-"), F.format_string("%04d", "id")).alias("doc_id"),
                F.col("id").alias("n"))
    )
    S.write_snapshot(
        tdir, df, cluster_by=["doc_id"], n_files=8, bloom_for=["doc_id"]
    )
    before = S._read_manifest(tdir, 0)
    assert len(before["files"]) == 8
    assert all(f in before["blooms"] for f in before["files"])
    assert not any(
        "doc_id" in before["stats"].get(f, {}) for f in before["files"]
    ), "string columns must not carry min/max stats"

    upd = spark.createDataFrame(
        [("doc-0005", -5), ("doc-9999", -1)], ["doc_id", "n"]
    )
    S.merge_snapshot(spark, tdir, upd, key="doc_id", scope_by="doc_id",
                     bloom_for=["doc_id"])
    after = S._read_manifest(tdir, 1)
    carried = set(before["files"]) & set(after["files"])
    # bloom false positives may touch an extra file or two, but most
    # of the 8 must carry by reference — a full rewrite carries none
    assert len(carried) >= 5, (sorted(carried), sorted(after["files"]))
    got = {r.doc_id: r.n for r in S.read_snapshot(spark, tdir).collect()}
    assert len(got) == 401
    assert got["doc-0005"] == -5 and got["doc-9999"] == -1
    assert got["doc-0006"] == 6


def test_snapshot_diff_full_scan_form_handles_schema_evolution(spark, tdir):
    """r5 ADVICE: skip_shared=False is the documented ORACLE form, so
    it must diff across a schema-ADDING commit instead of raising —
    and agree exactly with the skipping form, row and key level."""
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(2, "B", 9.5), (3, "c", 1.5)], ["k", "v", "score"]),
        key="k",
    )
    slow_rows = sorted(
        (r.k, r.v, r.score, r._change)
        for r in S.snapshot_diff(spark, tdir, 0, 1, skip_shared=False).collect()
    )
    fast_rows = sorted(
        (r.k, r.v, r.score, r._change)
        for r in S.snapshot_diff(spark, tdir, 0, 1).collect()
    )
    assert slow_rows == fast_rows
    assert (3, "c", 1.5, "insert") in slow_rows
    assert (2, "b", None, "delete") in slow_rows and (2, "B", 9.5, "insert") in slow_rows
    slow_keys = sorted(
        (r.k, r._change, r._row.v)
        for r in S.snapshot_diff(
            spark, tdir, 0, 1, key="k", skip_shared=False
        ).collect()
    )
    fast_keys = sorted(
        (r.k, r._change, r._row.v)
        for r in S.snapshot_diff(spark, tdir, 0, 1, key="k").collect()
    )
    assert slow_keys == fast_keys == [
        (2, "update", "B"), (3, "insert", "c"),
    ]


def test_delete_where_rewrites_only_carrier_files(spark, tdir):
    """Round 6: copy-on-write DELETE — the finding scan narrows the
    rewrite to files that actually hold matching rows; everything
    else is carried by reference with stats and blooms intact."""
    df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    S.write_snapshot(tdir, df, cluster_by=["k"], n_files=8, bloom_for=["k"])
    before = S._read_manifest(tdir, 0)
    assert len(before["files"]) == 8

    v1 = S.delete_snapshot(spark, tdir, where="k >= 10 AND k < 20")
    assert v1 == 1
    after = S._read_manifest(tdir, 1)
    carried = set(before["files"]) & set(after["files"])
    # k in [10, 20) lives in the first clustered file only
    assert len(carried) >= 6, (carried, set(after["files"]))
    for f in carried:
        assert after["stats"].get(f) == before["stats"].get(f)
        assert after["blooms"].get(f) == before["blooms"].get(f)

    got = sorted(r.k for r in S.read_snapshot(spark, tdir).collect())
    assert got == [k for k in range(1000) if not (10 <= k < 20)]
    # time travel still serves the pre-delete rows until vacuum
    assert S.read_snapshot(spark, tdir, version=0).count() == 1000
    # op is stamped in the retention-independent log
    assert "delete" in S.committed_ops(tdir)


def test_delete_where_three_valued_semantics(spark, tdir):
    """DELETE WHERE p removes only p=TRUE rows; FALSE and NULL keep."""
    S.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(1, 5), (2, None), (3, 50)], "k BIGINT, x BIGINT"
        ).coalesce(1),
    )
    S.delete_snapshot(spark, tdir, where="x > 10")
    got = sorted((r.k, r.x) for r in S.read_snapshot(spark, tdir).collect())
    assert got == [(1, 5), (2, None)]  # NULL predicate row survives


def test_delete_by_keys_equals_anti_join_and_scope_prunes(spark, tdir):
    """Erasure-list form: delete(keys=, key=, scope_by=) must equal the
    anti-join recompute and rewrite O(matching files)."""
    df = spark.range(0, 800).selectExpr("id AS k", "id * 2 AS a")
    S.write_snapshot(tdir, df, cluster_by=["k"], n_files=8)
    expected = sorted(
        (r.k, r.a)
        for r in df.join(
            spark.createDataFrame([(5,), (6,), (700,)], ["k"]),
            on="k", how="left_anti",
        ).collect()
    )
    before = S._read_manifest(tdir, 0)
    erase = spark.createDataFrame([(5, "z"), (6, "z"), (700, "z")], ["k", "junk"])
    S.delete_snapshot(spark, tdir, keys=erase, key="k", scope_by="k")
    after = S._read_manifest(tdir, 1)
    carried = set(before["files"]) & set(after["files"])
    assert len(carried) >= 6, carried  # 5,6 in one file; 700 in another
    got = sorted((r.k, r.a) for r in S.read_snapshot(spark, tdir).collect())
    assert got == expected

    # replay protocol: a stamped op makes the retry a caller-side no-op
    S.delete_snapshot(spark, tdir, keys=erase, key="k", scope_by="k",
                      op="erasure:req-42")
    assert "erasure:req-42" in S.committed_ops(tdir)
    v_before = S.current_version(tdir)
    if "erasure:req-42" in S.committed_ops(tdir):
        pass  # the idempotent eraser skips the replay
    assert S.current_version(tdir) == v_before

    # guards
    with pytest.raises(ValueError, match="exactly one"):
        S.delete_snapshot(spark, tdir)
    with pytest.raises(ValueError, match="exactly one"):
        S.delete_snapshot(spark, tdir, where="1=1", keys=erase, key="k")
    with pytest.raises(ValueError, match="requires key="):
        S.delete_snapshot(spark, tdir, keys=erase)
    with pytest.raises(ValueError, match="must be one of the key"):
        S.delete_snapshot(spark, tdir, keys=erase, key="k", scope_by="junk")


def test_delete_then_vacuum_physically_erases(spark, tdir):
    """The erasure SLA pair: delete removes rows logically; vacuum
    drops the bytes. After both, NO remaining parquet file under the
    table contains the erased value."""
    import glob as _glob

    import pyarrow.parquet as _pq

    S.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(1, "keep-me"), (2, "ERASE-SECRET"), (3, "also-keep")],
            ["k", "v"],
        ).coalesce(1),
    )
    S.delete_snapshot(spark, tdir, where="v = 'ERASE-SECRET'")
    # pre-vacuum: time travel still serves it (retention window)
    assert S.read_snapshot(spark, tdir, version=0).count() == 3
    S.vacuum(tdir, keep_versions=1)
    with pytest.raises(Exception):
        S.read_snapshot(spark, tdir, version=0).count()
    for path in _glob.glob(os.path.join(tdir, "data", "**", "*.parquet"),
                           recursive=True):
        vals = _pq.read_table(path).to_pydict().get("v", [])
        assert "ERASE-SECRET" not in vals, path
    got = sorted(r.k for r in S.read_snapshot(spark, tdir).collect())
    assert got == [1, 3]


def test_delete_no_match_commits_stamp_only(spark, tdir):
    """A no-match delete still commits (audit + exactly-once stamp)
    but rewrites nothing — every file carries by reference."""
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    before = S._read_manifest(tdir, 0)
    v = S.delete_snapshot(spark, tdir, where="k = 999", op="erasure:none")
    assert v == 1
    after = S._read_manifest(tdir, 1)
    assert set(after["files"]) == set(before["files"])
    assert "erasure:none" in S.committed_ops(tdir)
    assert S.read_snapshot(spark, tdir).count() == 2


def test_snapshot_diff_key_form_requires_unique_keys(spark, tdir):
    """r5 VERDICT pin: an APPEND that adds a second row for an
    existing key (duplicate keys — outside the key-form's contract)
    makes the two skip modes DISAGREE: the skipping form never plans
    the shared carrier file, so it tags the key 'insert'; the full
    scan sees the pre-existing row and tags it 'update' (or nothing,
    per struct compare). This test documents the divergence so the
    docstring's merge-maintained-table requirement stays honest; the
    full-ROW diff stays exact in both modes under the same data."""
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).coalesce(1)
    )
    # append introduces a duplicate k=1 row WITHOUT rewriting v0's file
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, "a2")], ["k", "v"]).coalesce(1),
        mode="append",
    )
    m0, m1 = S._read_manifest(tdir, 0), S._read_manifest(tdir, 1)
    assert set(m0["files"]) & set(m1["files"]), "append must share v0's file"

    fast = {
        (r.k, r._change)
        for r in S.snapshot_diff(spark, tdir, 0, 1, key="k").collect()
    }
    slow = {
        (r.k, r._change)
        for r in S.snapshot_diff(
            spark, tdir, 0, 1, key="k", skip_shared=False
        ).collect()
    }
    # the documented divergence under duplicate keys:
    assert fast == {(1, "insert")}
    assert slow == {(1, "update")}
    assert fast != slow

    # the full-row multiset diff is exact in BOTH modes regardless
    for skip in (True, False):
        rows = sorted(
            (r.k, r.v, r._change)
            for r in S.snapshot_diff(
                spark, tdir, 0, 1, skip_shared=skip
            ).collect()
        )
        assert rows == [(1, "a2", "insert")]


def test_timestamp_stats_enable_range_and_scoped_merge_pruning(spark, tdir):
    """Round 6: temporal columns now carry min/max stats (epoch-micros
    normalized on BOTH the writer and probe sides), so time-range
    reads and scope_by= merges on a timestamp key prune files — the
    streaming-rollup table's dominant access pattern."""
    import datetime as dt

    df = spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS hour, "
        "CAST(id AS BIGINT) AS n FROM range(0, 96)"
    )
    S.write_snapshot(tdir, df, cluster_by=["hour"], n_files=8)
    m = S._read_manifest(tdir, 0)
    assert all("hour" in m["stats"].get(f, {}) for f in m["files"]), (
        "timestamp column must be recorded in file stats"
    )
    lo = dt.datetime(2024, 1, 2, 0, 0)
    hi = dt.datetime(2024, 1, 2, 5, 0)
    keep, total = S.files_for_range(tdir, "hour", lo, hi)
    assert total == 8 and len(keep) <= 2, (keep, total)
    got = sorted(
        r.n
        for r in S.read_snapshot(
            spark, tdir, where_between=("hour", lo, hi)
        ).collect()
    )
    assert got == list(range(24, 30))

    # scoped merge on the timestamp key rewrites only the carrier file
    before = m
    upd = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 3, 0), 999)], ["hour", "n"]
    )
    S.merge_snapshot(spark, tdir, upd, key=["hour"], scope_by="hour")
    after = S._read_manifest(tdir, 1)
    carried = set(before["files"]) & set(after["files"])
    assert len(carried) >= 6, carried
    got = {r.hour: r.n for r in S.read_snapshot(spark, tdir).collect()}
    assert got[dt.datetime(2024, 1, 2, 3, 0)] == 999
    assert len(got) == 96


def test_delete_handles_uri_escaped_table_dirs_and_guards(spark, tmp_path):
    """Code-review fixes: input_file_name() reports percent-encoded
    URIs, so a table_dir with a space must still resolve; where= with
    key=/scope_by= is a loud error, not silently ignored pruning."""
    tdir = str(tmp_path / "my table")  # space -> %20 in scan URIs
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]).coalesce(1),
    )
    S.delete_snapshot(spark, tdir, where="k = 2")
    assert sorted(r.k for r in S.read_snapshot(spark, tdir).collect()) == [1, 3]

    with pytest.raises(ValueError, match="apply only to the keys= form"):
        S.delete_snapshot(spark, tdir, where="k = 1", scope_by="k")
    with pytest.raises(ValueError, match="apply only to the keys= form"):
        S.delete_snapshot(spark, tdir, where="k = 1", key="k")


def test_tags_survive_vacuum_and_pin_exact_bytes(spark, tdir):
    """Round 6: Iceberg-style tags — a tagged version is retention-
    exempt (vacuum keeps its manifest + data beyond keep_versions),
    re-reads identically after later commits, and moving a tag
    requires force=True."""
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    S.tag_snapshot(tdir, "train-jan")  # pins v0
    for i in range(4):
        S.write_snapshot(
            tdir, spark.createDataFrame([(10 + i, "x")], ["k", "v"])
        )
    assert S.list_tags(tdir) == {"train-jan": 0}

    removed = S.vacuum(tdir, keep_versions=1)
    assert removed  # middle versions' data gone
    # the tagged version still reads EXACTLY
    got = sorted(
        (r.k, r.v)
        for r in S.read_snapshot(spark, tdir, tag="train-jan").collect()
    )
    assert got == [(1, "a"), (2, "b")]
    # untagged old versions are gone
    with pytest.raises(Exception):
        S.read_snapshot(spark, tdir, version=2).collect()

    # guards
    with pytest.raises(ValueError, match="force=True"):
        S.tag_snapshot(tdir, "train-jan", version=4)
    S.tag_snapshot(tdir, "train-jan", version=4, force=True)
    assert S.list_tags(tdir)["train-jan"] == 4
    with pytest.raises(KeyError):
        S.read_snapshot(spark, tdir, tag="nope")
    with pytest.raises(ValueError, match="at most one"):
        S.read_snapshot(spark, tdir, version=0, tag="train-jan")
    with pytest.raises(ValueError, match="invalid tag"):
        S.tag_snapshot(tdir, "bad/name")
    # dropping the tag lets the version age out on the next vacuum
    S.delete_tag(tdir, "train-jan")
    assert S.list_tags(tdir) == {}


def test_check_constraints_gate_commits(spark, tdir):
    """Round 6: Delta-style CHECK constraints — adding one verifies
    existing rows, every later write/merge refuses violating data
    (table unchanged), NULL passes (SQL three-valued CHECK), and the
    constraint survives like a restart (file-backed)."""
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, 10), (2, None)], "k BIGINT, score BIGINT"),
    )
    S.add_constraint(spark, tdir, "score_nonneg", "score >= 0")
    assert S.list_constraints(tdir) == {"score_nonneg": "score >= 0"}

    # adding a constraint current data violates is refused
    with pytest.raises(S.ConstraintViolation, match="existing rows"):
        S.add_constraint(spark, tdir, "score_big", "score >= 100")

    # violating append refused, table unchanged
    v = S.current_version(tdir)
    with pytest.raises(S.ConstraintViolation, match="score_nonneg"):
        S.write_snapshot(
            tdir,
            spark.createDataFrame([(3, -5)], "k BIGINT, score BIGINT"),
            mode="append",
        )
    assert S.current_version(tdir) == v
    # violating merge refused
    with pytest.raises(S.ConstraintViolation, match="merge updates"):
        S.merge_snapshot(
            spark, tdir,
            spark.createDataFrame([(1, -1)], "k BIGINT, score BIGINT"),
            key="k",
        )
    assert S.current_version(tdir) == v

    # NULL passes (unknown), valid rows pass
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(3, None), (4, 7)], "k BIGINT, score BIGINT"),
        mode="append",
    )
    assert S.read_snapshot(spark, tdir).count() == 4

    # drop lifts the gate
    S.drop_constraint(tdir, "score_nonneg")
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(5, -9)], "k BIGINT, score BIGINT"),
        mode="append",
    )
    assert S.read_snapshot(spark, tdir).count() == 5
    with pytest.raises(KeyError):
        S.drop_constraint(tdir, "nope")


def test_write_audit_publish_flow(spark, tdir):
    """Round 6: WAP — staged commits stay invisible to published
    readers until an explicit publish; the published version is
    retention-exempt; publish is a validated atomic pointer swap."""
    S.write_snapshot(tdir, spark.createDataFrame([(1, "a")], ["k", "v"]))
    with pytest.raises(ValueError, match="never published"):
        S.read_snapshot(spark, tdir, published=True)
    assert S.publish_snapshot(tdir) == 0

    # stage two more commits; published readers still see v0
    S.write_snapshot(tdir, spark.createDataFrame([(2, "b")], ["k", "v"]), mode="append")
    S.write_snapshot(tdir, spark.createDataFrame([(3, "c")], ["k", "v"]), mode="append")
    assert S.read_snapshot(spark, tdir).count() == 3          # writer view
    assert S.read_snapshot(spark, tdir, published=True).count() == 1

    # audit the staged version, then publish it
    assert S.read_snapshot(spark, tdir, version=2).count() == 3
    S.publish_snapshot(tdir, version=2)
    assert S.read_snapshot(spark, tdir, published=True).count() == 3

    # retention respects the published pointer
    S.publish_snapshot(tdir, version=0)
    for i in range(3):
        S.write_snapshot(tdir, spark.createDataFrame([(9, "z")], ["k", "v"]))
    S.vacuum(tdir, keep_versions=1)
    assert S.read_snapshot(spark, tdir, published=True).count() == 1  # v0 alive

    with pytest.raises(ValueError, match="not a retained version"):
        S.publish_snapshot(tdir, version=99)
    with pytest.raises(ValueError, match="at most one"):
        S.read_snapshot(spark, tdir, version=0, published=True)


def test_update_where_rewrites_only_carrier_files(spark, tdir):
    """Round 6 (session 2): copy-on-write UPDATE — same finding-scan
    cost model as delete: only files holding matching rows rewrite;
    the rest carry by reference with stats and blooms intact."""
    df = spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id AS STRING) AS v", "id * 2 AS x"
    )
    S.write_snapshot(tdir, df, cluster_by=["k"], n_files=8, bloom_for=["k"])
    before = S._read_manifest(tdir, 0)

    v1 = S.update_snapshot(
        spark, tdir, where="k >= 10 AND k < 20",
        set={"v": "concat(v, '!')", "x": "x + 1"},
    )
    assert v1 == 1
    after = S._read_manifest(tdir, 1)
    carried = set(before["files"]) & set(after["files"])
    assert len(carried) >= 6, (carried, set(after["files"]))
    for f in carried:
        assert after["stats"].get(f) == before["stats"].get(f)
        assert after["blooms"].get(f) == before["blooms"].get(f)

    got = {r.k: (r.v, r.x) for r in S.read_snapshot(spark, tdir).collect()}
    assert len(got) == 1000
    for k in range(1000):
        if 10 <= k < 20:
            assert got[k] == (f"{k}!", 2 * k + 1)
        else:
            assert got[k] == (str(k), 2 * k)
    # time travel serves pre-update rows; the op stamp landed
    assert S.read_snapshot(spark, tdir, version=0).where(
        "v LIKE '%!'"
    ).count() == 0
    assert "update" in S.committed_ops(tdir)


def test_update_assignments_see_pre_update_row(spark, tdir):
    """SET a = b, b = a swaps (one projection over the old row),
    and FALSE/NULL predicate rows are untouched."""
    S.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(1, 10, 20), (2, None, 30), (3, 100, 200)],
            "k BIGINT, a BIGINT, b BIGINT",
        ).coalesce(1),
    )
    S.update_snapshot(spark, tdir, where="a > 50", set={"a": "b", "b": "a"})
    got = {r.k: (r.a, r.b) for r in S.read_snapshot(spark, tdir).collect()}
    assert got == {
        1: (10, 20),      # predicate FALSE — untouched
        2: (None, 30),    # predicate NULL — untouched
        3: (200, 100),    # swapped, not chained
    }


def test_update_validates_targets_and_constraints(spark, tdir):
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, 5)], "k BIGINT, x BIGINT").coalesce(1),
    )
    with pytest.raises(ValueError, match="cannot add columns"):
        S.update_snapshot(spark, tdir, where="k = 1", set={"nope": "1"})
    with pytest.raises(ValueError, match="at least one column"):
        S.update_snapshot(spark, tdir, where="k = 1", set={})
    S.add_constraint(spark, tdir, "x_pos", "x > 0")
    with pytest.raises(S.ConstraintViolation):
        S.update_snapshot(spark, tdir, where="k = 1", set={"x": "-5"})
    # failed update committed nothing
    assert S.current_version(tdir) == 0
    assert S.read_snapshot(spark, tdir).collect()[0].x == 5


def test_update_on_empty_file_manifest_raises(spark, tdir):
    """r7 ADVICE (snapshots.py:1205): with zero data files there is
    no schema to validate ``set`` targets against — an unknown target
    must not pass silently and commit a no-op version. UPDATE raises
    loudly on an empty-file manifest instead."""
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, 5)], "k BIGINT, x BIGINT").coalesce(1),
    )
    # craft the empty manifest directly (natural DML keeps at least a
    # schema-bearing empty file, so this is the defensive edge)
    S._commit(tdir, [], "truncate", None, 0, {}, {})
    v = S.current_version(tdir)
    with pytest.raises(ValueError, match="no data files"):
        S.update_snapshot(spark, tdir, where="k = 1", set={"nope": "1"})
    with pytest.raises(ValueError, match="no data files"):
        S.update_snapshot(spark, tdir, where="k = 1", set={"x": "0"})
    assert S.current_version(tdir) == v  # nothing committed


def test_update_zero_match_still_stamps(spark, tdir):
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, 5)], "k BIGINT, x BIGINT").coalesce(1),
    )
    v = S.update_snapshot(
        spark, tdir, where="k = 999", set={"x": "0"}, op="fix:tick=7"
    )
    assert v == 1 and "fix:tick=7" in S.committed_ops(tdir)
    assert S.read_snapshot(spark, tdir).collect()[0].x == 5


def test_update_applies_to_schema_evolved_files(spark, tdir):
    """A SET target can be absent from every TOUCHED file (rows live
    in a file written before a schema-widening merge): the update
    must still apply, not silently drop (r6 code-review finding)."""
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING")
        .coalesce(1),
    )
    # widen the schema via a FILE-SCOPED merge on a disjoint key so
    # the original (k, v)-only file is carried untouched — the update
    # below must then materialize x before assigning it
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(9, "z", 99)], "k BIGINT, v STRING, x BIGINT"),
        key="k", scope_by="k",
    )
    m = S._read_manifest(tdir, 1)
    old = S._read_manifest(tdir, 0)
    assert set(old["files"]) & set(m["files"]), "old file must be carried"
    S.update_snapshot(spark, tdir, where="k = 1", set={"x": "42"})
    got = {r.k: r.x for r in S.read_snapshot(spark, tdir).collect()}
    assert got == {1: 42, 2: None, 9: 99}


# ---- round 7: column drop/rename discipline (VERDICT r6 #7) ----


def test_drop_columns_full_rewrite_contract(spark, tdir):
    """DROP COLUMN is a full COW rewrite: the new version's files
    physically lack the column (GDPR column erasure), time travel
    keeps it, and validation/constraints fail loudly first."""
    S.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], ["k", "name", "secret"]
        ).coalesce(1),
    )
    with pytest.raises(ValueError, match="not in table columns"):
        S.drop_columns(spark, tdir, ["nope"])
    with pytest.raises(ValueError, match="every column"):
        S.drop_columns(spark, tdir, ["k", "name", "secret"])
    with pytest.raises(ValueError, match="at least one"):
        S.drop_columns(spark, tdir, [])

    S.add_constraint(spark, tdir, "secret_pos", "secret > 0")
    with pytest.raises(ValueError, match="constraint 'secret_pos'"):
        S.drop_columns(spark, tdir, ["secret"])
    assert S.current_version(tdir) == 0  # nothing committed
    S.drop_constraint(tdir, "secret_pos")

    v = S.drop_columns(spark, tdir, ["secret"])
    assert v == 1
    assert "drop-columns:secret" in S.committed_ops(tdir)
    cur = S.read_snapshot(spark, tdir)
    assert cur.columns == ["k", "name"]
    assert sorted(map(tuple, cur.collect())) == [(1, "a"), (2, "b")]
    # NO live file retains the column: the mergeSchema read over the
    # new manifest (what read_snapshot does) shows no trace of it
    old = S.read_snapshot(spark, tdir, version=0)
    assert "secret" in old.columns  # time travel unaffected
    assert sorted(r.secret for r in old.collect()) == [10, 20]
    # rowcounts stay exact through the rewrite (metadata COUNT(*))
    assert S.table_rowcount(tdir) == 2

    # pinned: a writer still sending the old column re-ADDS it by
    # schema evolution — writers migrate WITH the table
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(3, "c", 30)], ["k", "name", "secret"]),
        key="k",
    )
    assert "secret" in S.read_snapshot(spark, tdir).columns


def test_rename_column_contract(spark, tdir):
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, 10), (2, 20)], ["k", "val"]).coalesce(1),
    )
    with pytest.raises(ValueError, match="not in table columns"):
        S.rename_column(spark, tdir, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        S.rename_column(spark, tdir, "val", "k")
    with pytest.raises(ValueError, match="identifier"):
        S.rename_column(spark, tdir, "val", "bad-name")
    S.add_constraint(spark, tdir, "val_pos", "val > 0")
    with pytest.raises(ValueError, match="constraint 'val_pos'"):
        S.rename_column(spark, tdir, "val", "amount")
    S.drop_constraint(tdir, "val_pos")

    v = S.rename_column(spark, tdir, "val", "amount")
    assert v == 1 and "rename-column:val->amount" in S.committed_ops(tdir)
    cur = S.read_snapshot(spark, tdir)
    assert cur.columns == ["k", "amount"]
    assert sorted(map(tuple, cur.collect())) == [(1, 10), (2, 20)]
    assert S.read_snapshot(spark, tdir, version=0).columns == ["k", "val"]
    assert S.table_rowcount(tdir) == 2


def test_snapshot_diff_across_drop_and_rename_is_loud(spark, tdir):
    """Pinned contract: neither DDL is diff-transparent. Across a
    drop, every row that held a non-NULL value in the dropped column
    surfaces as an update (aligned schema null-fills it); across a
    rename, values 'move' from the old name to the new one, so every
    non-NULL row is an update too — a CDC consumer must migrate with
    the table."""
    from pyspark.sql import functions as F

    S.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", None)],
            "k BIGINT, name STRING, extra BIGINT",
        ).coalesce(1),
    )
    S.drop_columns(spark, tdir, ["extra"])  # v1
    diff = S.snapshot_diff(spark, tdir, 0, 1, key=["k"])
    changes = {r.k: r["_change"] for r in diff.collect()}
    # k=1 lost a non-NULL value -> update; k=2 held NULL -> unchanged
    assert changes == {1: "update"}
    row = diff.where(F.col("k") == 1).select("_row.*").collect()[0]
    assert row.extra is None and row.name == "a"

    S.rename_column(spark, tdir, "name", "label")  # v2
    diff2 = S.snapshot_diff(spark, tdir, 1, 2, key=["k"])
    changes2 = {r.k: r["_change"] for r in diff2.collect()}
    assert changes2 == {1: "update", 2: "update"}
    r1 = diff2.where(F.col("k") == 1).select("_row.*").collect()[0]
    assert r1.label == "a" and r1.name is None


def test_compaction_plan_reports_small_files_without_a_job(spark, tdir):
    """r7: the auto-OPTIMIZE scheduling input — pure manifest+stat
    arithmetic (no Spark job), consistent with what compact() then
    actually does."""
    df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    S.write_snapshot(tdir, df.repartition(8))  # 8 small files
    plan = S.compaction_plan(tdir, target_bytes=1024 * 1024)
    assert plan["n_files"] == 8 and len(plan["small_files"]) == 8
    assert plan["worth_compacting"] is True
    assert plan["est_files_after"] == 1
    assert plan["small_bytes"] == plan["total_bytes"] > 0

    S.compact(spark, tdir, target_files=1)
    plan2 = S.compaction_plan(tdir)
    assert plan2["n_files"] == 1
    assert plan2["worth_compacting"] is False
    # the pre-compact version stays inspectable under time travel
    assert S.compaction_plan(tdir, version=0)["n_files"] == 8
    # huge target: everything is "small" but merging 1 file buys nothing
    assert S.compaction_plan(tdir)["est_files_after"] == 1


def test_compact_only_below_carries_right_sized_files(spark, tdir):
    """r7 code review: compaction_plan prices compact(only_below=);
    the verb must exist and carry right-sized files BY REFERENCE so
    the pass costs O(small files), matching the estimate."""
    big = spark.range(0, 20000).selectExpr(
        "id AS k", "repeat('x', 64) AS pad"
    )
    S.write_snapshot(tdir, big.coalesce(1))  # one right-sized file
    small = spark.range(20000, 20200).selectExpr(
        "id AS k", "repeat('x', 64) AS pad"
    )
    S.write_snapshot(tdir, small.repartition(4), mode="append")  # 4 small
    m0 = S._read_manifest(tdir, S.current_version(tdir))
    assert len(m0["files"]) == 5
    sizes = {
        f: __import__("os").path.getsize(
            __import__("os").path.join(tdir, f)
        )
        for f in m0["files"]
    }
    threshold = max(sizes.values())  # only the big file is >= this

    plan = S.compaction_plan(tdir, target_bytes=threshold)
    assert len(plan["small_files"]) == 4 and plan["missing_files"] == []
    assert plan["worth_compacting"] is True
    assert plan["est_files_after"] == 2  # merged smalls + the big one

    S.compact(spark, tdir, target_files=1, only_below=threshold)
    m1 = S._read_manifest(tdir, S.current_version(tdir))
    assert len(m1["files"]) == plan["est_files_after"] == 2
    # the big file carried BY REFERENCE (same path, stats intact)
    big_file = max(sizes, key=sizes.get)
    assert big_file in m1["files"]
    assert S.read_snapshot(spark, tdir).count() == 20200
    assert S.table_rowcount(tdir) == 20200
    # nothing-to-do still stamps a commit (idempotent tick contract)
    v = S.compact(spark, tdir, target_files=1, only_below=1)
    assert v == S.current_version(tdir)
    assert S.read_snapshot(spark, tdir).count() == 20200


def test_compaction_plan_surfaces_missing_files(spark, tdir):
    import os as _os

    S.write_snapshot(
        tdir,
        spark.range(0, 100).selectExpr("id AS k").repartition(3),
    )
    m = S._read_manifest(tdir, S.current_version(tdir))
    victim = m["files"][0]
    _os.remove(_os.path.join(tdir, victim))
    plan = S.compaction_plan(tdir, target_bytes=1 << 30)
    assert plan["missing_files"] == [victim]
    assert victim not in plan["small_files"]
    assert plan["worth_compacting"] is False  # corruption, not a merge
    assert plan["n_files"] == 3


# ---- round 10: UNIQUE constraints (write-enforced, version-stamped) ----


def test_unique_constraint_validates_then_enforces_every_path(
    spark, tmp_path
):
    tdir = str(tmp_path / "uniq")
    S.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, None, 30)], "k int, u string, v int"
        ),
    )
    S.add_unique_constraint(spark, tdir, "u_uq", "u")
    recs = S.unique_constraint_records(tdir)
    assert recs == {"u_uq": {"col": "u", "since_version": 0}}
    # CHECK listing is unpolluted (enforcement F.expr would crash on it)
    assert "u_uq" not in S.list_constraints(tdir)

    # overwrite: incoming-only check
    with pytest.raises(S.ConstraintViolation, match="UNIQUE"):
        S.write_snapshot(
            tdir,
            spark.createDataFrame([(1, "x", 1), (2, "x", 2)],
                                  "k int, u string, v int"),
        )
    # append: collides with existing rows
    with pytest.raises(S.ConstraintViolation, match="against existing"):
        S.write_snapshot(
            tdir,
            spark.createDataFrame([(9, "a", 9)], "k int, u string, v int"),
            mode="append",
        )
    # append of NULLs is exempt (SQL UNIQUE), and a fresh value lands
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(4, None, 4), (5, "e", 5)],
                              "k int, u string, v int"),
        mode="append",
    )

    # merge keyed on the unique column: replacement, no existing check
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([("a", 99)], "u string, v int"), key="u",
    )
    got = {
        r.u: r.v for r in S.read_snapshot(spark, tdir).collect()
        if r.u == "a"
    }
    assert got == {"a": 99}
    # merge keyed on k: an inserted duplicate of a surviving row refuses
    with pytest.raises(S.ConstraintViolation, match="against existing"):
        S.merge_snapshot(
            spark, tdir,
            spark.createDataFrame([(77, "b", 7)], "k int, u string, v int"),
            key="k",
        )
    # ... but replacing the row that HOLDS the value is legal
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(2, "b2", 7)], "k int, u string, v int"),
        key="k",
    )

    # UPDATE may not assign the unique column
    with pytest.raises(S.ConstraintViolation, match="UPDATE assigns"):
        S.update_snapshot(spark, tdir, "v = 99", {"u": "'zz'"})
    # untouched-column updates stay legal
    S.update_snapshot(spark, tdir, "v = 99", {"v": "100"})

def test_unique_constraint_floors_rollback(spark, tmp_path):
    tdir = str(tmp_path / "uniq_rb")
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a")], "k int, u string")
    )
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a"), (2, "b")], "k int, u string")
    )
    S.add_unique_constraint(spark, tdir, "u_uq", "u")
    assert S.unique_constraint_records(tdir)["u_uq"]["since_version"] == 1
    with pytest.raises(S.ConstraintViolation, match="rollback"):
        S.rollback(tdir, 0)


def test_add_unique_constraint_refuses_existing_duplicates(spark, tmp_path):
    tdir = str(tmp_path / "uniq_dup")
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, "a"), (2, "a")], "k int, u string"),
    )
    with pytest.raises(S.ConstraintViolation, match="existing rows"):
        S.add_unique_constraint(spark, tdir, "u_uq", "u")
    # NULL multiplicity is never a violation
    tdir2 = str(tmp_path / "uniq_nulls")
    S.write_snapshot(
        tdir2,
        spark.createDataFrame([(1, None), (2, None)], "k int, u string"),
    )
    S.add_unique_constraint(spark, tdir2, "u_uq", "u")


def test_unique_composite_merge_key_still_checks_existing(spark, tmp_path):
    """r10 code review: a composite merge key CONTAINING the unique
    column does not replace by that column — the carried-forward row
    with a different key half can still collide, so the existing-side
    check must run (and refuse)."""
    tdir = str(tmp_path / "uniq_comp")
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a")], "k int, u string")
    )
    S.add_unique_constraint(spark, tdir, "u_uq", "u")
    with pytest.raises(S.ConstraintViolation, match="against existing"):
        S.merge_snapshot(
            spark, tdir,
            spark.createDataFrame([(2, "a")], "k int, u string"),
            key=["k", "u"],
        )
    # replacing the exact (k, u) pair stays legal (no new collision)
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(1, "a")], "k int, u string"),
        key=["k", "u"],
    )

def test_unique_constraint_blocks_drop_and_rename_of_its_column(
    spark, tmp_path
):
    """r10 ADVICE medium #1: the CHECK-probe in drop/rename never sees
    UNIQUE records (they are not boolean expressions), so without an
    explicit refusal the record would survive the DDL unenforced and
    revive a stale 1:≤1 proof if the name ever came back."""
    tdir = str(tmp_path / "uniq_ddl")
    S.write_snapshot(
        tdir,
        spark.createDataFrame([(1, "a", 5)], "k int, u string, v int"),
    )
    S.add_unique_constraint(spark, tdir, "u_uq", "u")
    with pytest.raises(ValueError, match="UNIQUE constraint 'u_uq'"):
        S.drop_columns(spark, tdir, ["u"])
    with pytest.raises(ValueError, match="UNIQUE constraint 'u_uq'"):
        S.rename_column(spark, tdir, "u", "w")
    # refusal is case-insensitive like the rest of the DDL surface
    with pytest.raises(ValueError, match="UNIQUE constraint 'u_uq'"):
        S.drop_columns(spark, tdir, ["U"])
    # unrelated columns stay droppable, and dropping the constraint
    # first unblocks the DDL
    S.drop_columns(spark, tdir, ["v"])
    S.drop_constraint(tdir, "u_uq")
    S.rename_column(spark, tdir, "u", "w")
    assert S.read_snapshot(spark, tdir).columns == ["k", "w"]


def test_unique_constraint_case_insensitive_enforcement(spark, tmp_path):
    """r10 ADVICE medium #2: a constraint declared with different
    casing than the schema must still be write-enforced — Spark
    resolves columns case-insensitively, so 'PK' data lands in the
    'pk' column and can collide."""
    tdir = str(tmp_path / "uniq_case")
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a")], "k int, pk string")
    )
    # declared as 'PK': canonicalized to the schema spelling at add
    S.add_unique_constraint(spark, tdir, "pk_uq", "PK")
    assert S.unique_constraint_records(tdir)["pk_uq"]["col"] == "pk"
    # a column absent from the schema is a loud error, not a record
    # that never enforces
    with pytest.raises(ValueError, match="not in table columns"):
        S.add_unique_constraint(spark, tdir, "ghost_uq", "nope")
    # append whose schema spells the column 'PK' still collides
    with pytest.raises(S.ConstraintViolation, match="against existing"):
        S.write_snapshot(
            tdir,
            spark.createDataFrame([(2, "a")], "k int, PK string"),
            mode="append",
        )
    # UPDATE refusal matches SET targets case-insensitively
    with pytest.raises(S.ConstraintViolation, match="UPDATE assigns"):
        S.update_snapshot(spark, tdir, "k = 1", {"PK": "'z'"})
    # a record added against an EMPTY table keeps the declared
    # spelling (no schema to canonicalize against) yet still enforces
    # once data arrives under any casing
    tdir2 = str(tmp_path / "uniq_case_empty")
    S.add_unique_constraint(spark, tdir2, "pk_uq", "PK")
    with pytest.raises(S.ConstraintViolation, match="within the incoming"):
        S.write_snapshot(
            tdir2, spark.createDataFrame([(1, "x"), (2, "x")],
                                         "k int, pk string")
        )


def test_scoped_merge_existing_check_covers_inscope_unmatched_rows(
    spark, tmp_path
):
    """r10 ADVICE low #3 adjudicated as NOT a bug: a scope_by merge
    KEEPS in-scope rows whose key the updates do not carry (kept =
    touched-files anti-join on the merge keys) — it never deletes
    them — so the existing-side UNIQUE check must treat them as
    survivors. Excluding them (the suggested fix) would let a real
    duplicate land. Pin both directions."""
    tdir = str(tmp_path / "uniq_scoped")
    S.write_snapshot(
        tdir, spark.createDataFrame([(1, "a"), (2, "b")],
                                    "k int, u string")
    )
    S.add_unique_constraint(spark, tdir, "u_uq", "u")
    # updates carry k=2 only; k=1 ('a') is in-scope-unmatched and
    # SURVIVES the merge, so reusing its value must refuse
    with pytest.raises(S.ConstraintViolation, match="against existing"):
        S.merge_snapshot(
            spark, tdir,
            spark.createDataFrame([(2, "a")], "k int, u string"),
            key="k", scope_by="k",
        )
    # replacing the holder itself stays legal (anti-join exemption)
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(1, "a")], "k int, u string"),
        key="k", scope_by="k",
    )
    got = {r.k: r.u for r in S.read_snapshot(spark, tdir).collect()}
    assert got == {1: "a", 2: "b"}


def _kvx(ids):
    return ids.selectExpr(
        "id AS k", "CAST(id AS STRING) AS v", "CAST(id AS DOUBLE) / 2 AS x"
    )


@pytest.fixture(scope="module")
def _bloomed_base(spark, tmp_path_factory):
    """A 400-row table clustered on k into 4 bloomed files, written
    once; each case below copies it."""
    tdir = str(tmp_path_factory.mktemp("cow") / "base")
    S.write_snapshot(
        tdir,
        _kvx(spark.range(0, 400)),
        cluster_by=["k"], n_files=4, bloom_for=["k"],
    )
    return tdir


def _small_files_then_compact(spark, tdir):
    for lo in (1000, 1002):
        S.write_snapshot(
            tdir,
            _kvx(spark.range(lo, lo + 2)).coalesce(1),
            mode="append", bloom_for=["k"],
        )
    m = S._read_manifest(tdir, S.current_version(tdir))
    floor = min(
        os.path.getsize(os.path.join(tdir, f))
        for f in m["files"]
        if "/v0-" in f
    )
    return lambda: S.compact(spark, tdir, only_below=floor, bloom_for=["k"])


_COW_VERBS = {
    "merge_scoped": lambda spark, t: lambda: S.merge_snapshot(
        spark, t,
        spark.createDataFrame(
            [(3, "m", 0.0), (150, "m", 0.0), (1000, "m", 0.0)],
            "k BIGINT, v STRING, x DOUBLE",
        ),
        key="k", scope_by="k", bloom_for=["k"],
    ),
    "delete_where": lambda spark, t: lambda: S.delete_snapshot(
        spark, t, where="k < 10", bloom_for=["k"]
    ),
    "delete_keys_scoped": lambda spark, t: lambda: S.delete_snapshot(
        spark, t, keys=spark.createDataFrame([(5,), (205,)], "k BIGINT"),
        key="k", scope_by="k", bloom_for=["k"],
    ),
    "update": lambda spark, t: lambda: S.update_snapshot(
        spark, t, where="k BETWEEN 100 AND 110", set={"v": "'u'"},
        bloom_for=["k"],
    ),
    "compact_only_below": _small_files_then_compact,
    "drop_column": lambda spark, t: lambda: S.drop_columns(
        spark, t, ["x"], bloom_for=["k"]
    ),
    "rename_column": lambda spark, t: lambda: S.rename_column(
        spark, t, "x", "y", bloom_for=["k"]
    ),
    "append": lambda spark, t: lambda: S.write_snapshot(
        t,
        _kvx(spark.range(500, 501)), mode="append", bloom_for=["k"],
    ),
}


@pytest.mark.parametrize("verb", sorted(_COW_VERBS))
def test_cow_verbs_index_new_files_and_carry_the_rest(
    spark, tmp_path, _bloomed_base, verb
):
    """Every copy-on-write verb runs the one shared commit step: each
    newly written file gets rowcounts, blooms and (when it holds rows)
    stats; each carried file keeps the base manifest's entries
    unchanged; and the metadata row count equals a scan's."""
    import shutil

    tdir = str(tmp_path / "t")
    shutil.copytree(_bloomed_base, tdir)
    run = _COW_VERBS[verb](spark, tdir)
    base = S._read_manifest(tdir, S.current_version(tdir))
    new = S._read_manifest(tdir, run())
    written = set(new["files"]) - set(base["files"])
    carried = set(new["files"]) & set(base["files"])
    assert written
    for f in written:
        assert f in new["rowcounts"] and f in new["blooms"], f
        assert "k" in new["blooms"][f]
        if new["rowcounts"][f]:
            assert f in new["stats"], f
    for f in carried:
        for name in ("stats", "blooms", "rowcounts"):
            assert new[name].get(f) == base[name].get(f), (name, f)
    if verb not in ("drop_column", "rename_column"):
        assert carried  # the verb rewrote only part of the table
    assert S.table_rowcount(tdir) == S.read_snapshot(spark, tdir).count()


def _three_action_candidates(df, column, manifest):
    """The scoped probe as three Spark actions (an exact NULL check, a
    capped distinct collect, then min/max beyond the cap): the form
    the one-job probe must agree with on every batch."""
    from pyspark.sql import functions as F

    if df.where(df[column].isNull()).head(1):
        raise ValueError("NULL")
    vals = [
        r[0]
        for r in df.select(column)
        .distinct()
        .limit(S._SCOPE_VALUES_CAP + 1)
        .collect()
    ]
    if not vals:
        return None
    if len(vals) <= S._SCOPE_VALUES_CAP:
        return S._files_touching_values(manifest, column, vals)
    row = df.agg(F.min(column), F.max(column)).collect()[0]
    return set(S._prune_manifest(manifest, column, row[0], row[1]))


def test_scoped_candidates_one_job_same_files_as_three_actions(
    spark, tdir, monkeypatch
):
    """The scoped merge/delete probe is one bounded sorted collect.
    Below, at and above the value cap, with and without repeated
    keys, it touches exactly the files the three-action form did; a
    NULL key raises on either side of the cap; an empty batch is
    None; a batch of at most cap rows costs one Spark job."""
    from tests.conftest import spark_jobs

    S.write_snapshot(
        tdir,
        spark.range(0, 800).selectExpr("id AS k", "id % 7 AS a"),
        cluster_by=["k"], n_files=8, bloom_for=["k"],
    )
    manifest = S._read_manifest(tdir, 0)
    monkeypatch.setattr(S, "_SCOPE_VALUES_CAP", 5)

    def batch(keys):
        return spark.createDataFrame(
            [(k, 1) for k in keys], "k BIGINT, a BIGINT"
        )

    cases = {
        "below": [5, 650, 320],
        "below_dups": [650, 5, 650, 5],
        "at": [5, 110, 650, 790, 320],
        "at_dups_over_cap_rows": [5, 110, 5, 650, 110, 790, 320, 5],
        # beyond the cap the [min, max] interval form prunes
        "above": [300, 301, 320, 350, 390, 410, 415],
        "above_dups": [415, 300, 301, 320, 350, 390, 410, 301, 415],
    }
    for name, keys in cases.items():
        df = batch(keys)
        want = _three_action_candidates(df, "k", manifest)
        got, jobs = spark_jobs(
            spark, lambda: S._scoped_candidates(df, "k", manifest, "updates")
        )
        assert got == want, name
        assert 0 < len(got) < len(manifest["files"]), name
        if len(keys) <= S._SCOPE_VALUES_CAP:
            assert jobs == 1, (name, jobs)
    for keys in ([None, 5, 650], [5, 110, 650, 790, 320, 11, None, 12]):
        with pytest.raises(ValueError, match="NULL"):
            S._scoped_candidates(batch(keys), "k", manifest, "updates")
    empty = batch([])
    assert S._scoped_candidates(empty, "k", manifest, "updates") is None
    with pytest.raises(ValueError, match="empty"):
        S.merge_snapshot(spark, tdir, empty, key="k", scope_by="k")


def test_commit_reads_each_fresh_footer_once(spark, tdir, monkeypatch):
    """``_file_stats`` hands the row counts it read to ``_commit``, so
    a fresh file's footer is opened once per commit, and rollback (no
    stats step) still records every count."""
    import pyarrow.parquet as pq

    S.write_snapshot(
        tdir,
        spark.range(0, 300).selectExpr("id AS k", "id AS v"),
        cluster_by=["k"], n_files=3,
    )
    opened: list[str] = []
    real = pq.ParquetFile

    def counting(path, *args, **kwargs):
        opened.append(os.path.relpath(path, tdir))
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    v = S.merge_snapshot(
        spark, tdir,
        spark.range(0, 300, 2).selectExpr("id AS k", "-id AS v"),
        key="k",
    )
    monkeypatch.undo()
    m = S._read_manifest(tdir, v)
    assert m["files"] and sorted(opened) == m["files"]
    assert m["rowcounts"] == {
        f: real(os.path.join(tdir, f)).metadata.num_rows for f in m["files"]
    }
    assert S.table_rowcount(tdir) == 300
    S.write_snapshot(tdir, spark.range(5).selectExpr("id AS k", "id AS v"))
    S.rollback(tdir, v)
    assert S._read_manifest(tdir, v + 2)["rowcounts"] == m["rowcounts"]


def test_snapshot_diff_uncancelled_is_the_file_swap(spark, tdir):
    """``cancel=False`` returns every row of the swapped files, signed
    by side, so a signed SUM over it equals the one over the cancelled
    diff; the key form has no uncancelled variant."""
    from pyspark.sql import functions as F

    S.write_snapshot(
        tdir,
        spark.range(0, 90).selectExpr("id AS k", "id % 4 AS g", "id AS v"),
        cluster_by=["k"], n_files=3,
    )
    S.merge_snapshot(
        spark, tdir,
        spark.createDataFrame(
            [(5, 9, 500), (200, 1, 7)], "k long, g long, v long"
        ),
        key="k", scope_by="k",
    )
    m0, m1 = S._read_manifest(tdir, 0), S._read_manifest(tdir, 1)
    swapped = set(m0["files"]) ^ set(m1["files"])
    swap = S.snapshot_diff(spark, tdir, 0, 1, cancel=False)
    counts = {**m0["rowcounts"], **m1["rowcounts"]}
    assert swap.count() == sum(counts[f] for f in swapped)

    def signed(df):
        sign = F.when(F.col("_change") == "insert", 1).otherwise(-1)
        return sorted(
            tuple(r)
            for r in df.groupBy("g")
            .agg(F.sum(sign).alias("n"), F.sum(sign * F.col("v")).alias("s"))
            .where("n != 0 OR s != 0")
            .collect()
        )

    assert signed(swap) == signed(S.snapshot_diff(spark, tdir, 0, 1))
    assert len(S.snapshot_diff(spark, tdir, 0, 1).collect()) == 3
    with pytest.raises(ValueError, match="full-row"):
        S.snapshot_diff(spark, tdir, 0, 1, key="k", cancel=False)
