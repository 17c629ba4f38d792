"""The schema each snapshot version records at commit, and the rows
every curation input is read from once.

A version's manifest records the schema its files read under, so no
read infers it from the files. The oracle for every verb is the
mergeSchema read of the same files: same fields, same rows. A
manifest without a record (written before schemas were recorded)
still reads by inference. MERGE and the key form of DELETE compute
their source once, so a source that is not deterministic cannot give
the scope probe one key set and the write another; the blocks of that
copy (and of the rollup tick's delta and the mirror's feed) are
released after the commit."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ensembl_lakehouse_spark import ivm, snapshots as S
from tests.conftest import spark_jobs


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _inferred(spark, tdir, version):
    m = S._read_manifest(tdir, version)
    return spark.read.option("mergeSchema", "true").parquet(
        *(os.path.join(tdir, f) for f in m["files"])
    )


def _fields(df):
    return sorted((f.name, f.dataType.simpleString()) for f in df.schema)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(repr(r[c]) for c in cols) for r in df.select(*cols).collect())
    )


def _assert_recorded(spark, tdir, version=None):
    """``version`` has a recorded schema, and reading under it gives
    what a mergeSchema read of its files gives."""
    v = S.current_version(tdir) if version is None else version
    m = S._read_manifest(tdir, v)
    assert m["schema"] is not None, f"v{v} recorded no schema"
    got = S.read_snapshot(spark, tdir, version=v)
    want = _inferred(spark, tdir, v)
    assert _fields(got) == _fields(want)
    assert _rows(got) == _rows(want)
    return m["schema"]


def _kv(spark, rows, ddl="k BIGINT, v STRING"):
    return spark.createDataFrame(rows, ddl).coalesce(1)


def test_every_verb_records_the_schema_its_files_read_under(spark, tdir):
    S.write_snapshot(
        tdir,
        spark.range(0, 40).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("v")
        ),
        cluster_by=["k"], n_files=4,
    )
    _assert_recorded(spark, tdir)
    # a schema-ADDING append: old files lack the new column
    S.write_snapshot(
        tdir,
        _kv(spark, [(100, "x", 1.5)], "k BIGINT, v STRING, score DOUBLE"),
        mode="append",
    )
    schema = _assert_recorded(spark, tdir)
    assert [f["name"] for f in schema["fields"]] == ["k", "v", "score"]
    assert all(f["nullable"] for f in schema["fields"])
    # a schema-adding SCOPED merge: only the touched file is rewritten
    S.merge_snapshot(
        spark, tdir,
        _kv(spark, [(3, "m", 7)], "k BIGINT, v STRING, n INT"),
        "k", scope_by="k",
    )
    schema = _assert_recorded(spark, tdir)
    assert [f["name"] for f in schema["fields"]] == ["k", "v", "score", "n"]
    # the unscoped merge rewrites every file
    S.merge_snapshot(spark, tdir, _kv(spark, [(4, "u")]), "k")
    _assert_recorded(spark, tdir)
    S.delete_snapshot(spark, tdir, where="k = 5")
    _assert_recorded(spark, tdir)
    S.delete_snapshot(
        spark, tdir, keys=_kv(spark, [(6, "")]), key="k", scope_by="k"
    )
    _assert_recorded(spark, tdir)
    S.update_snapshot(spark, tdir, where="k = 7", set={"score": "2.5"})
    _assert_recorded(spark, tdir)
    S.compact(spark, tdir, only_below=10**9, target_files=2)
    _assert_recorded(spark, tdir)
    S.compact(spark, tdir)
    _assert_recorded(spark, tdir)
    S.drop_columns(spark, tdir, ["score"])
    schema = _assert_recorded(spark, tdir)
    assert [f["name"] for f in schema["fields"]] == ["k", "v", "n"]
    S.rename_column(spark, tdir, "n", "hits")
    schema = _assert_recorded(spark, tdir)
    assert [f["name"] for f in schema["fields"]] == ["k", "v", "hits"]
    # no rewritten file keeps the dropped or renamed column
    import pyarrow.parquet as pq

    for rel in S._read_manifest(tdir, S.current_version(tdir))["files"]:
        names = pq.ParquetFile(os.path.join(tdir, rel)).schema_arrow.names
        assert "score" not in names and "n" not in names
    # rollback restores the old version's record with its files
    old = S._read_manifest(tdir, 1)["schema"]
    S.rollback(tdir, 1)
    assert _assert_recorded(spark, tdir) == old
    # time travel reads each version under its own record
    for v in range(S.current_version(tdir) + 1):
        _assert_recorded(spark, tdir, v)


def test_delta_manifests_store_the_schema_only_when_it_changes(spark, tdir):
    S.write_snapshot(tdir, _kv(spark, [(1, "a")]))
    S.write_snapshot(tdir, _kv(spark, [(2, "b")]), mode="append")
    S.write_snapshot(
        tdir, _kv(spark, [(3, "c", 1)], "k BIGINT, v STRING, n INT"),
        mode="append",
    )
    assert S._raw_manifest(tdir, 0).get("kind") is None
    assert "schema" not in S._raw_manifest(tdir, 1)  # unchanged
    assert S._raw_manifest(tdir, 1)["kind"] == "delta"
    assert "schema" in S._raw_manifest(tdir, 2)  # widened
    names = [
        [f["name"] for f in S._read_manifest(tdir, v)["schema"]["fields"]]
        for v in range(3)
    ]
    assert names == [["k", "v"], ["k", "v"], ["k", "v", "n"]]
    # vacuum rewrites kept deltas as checkpoints: the record survives
    S.write_snapshot(tdir, _kv(spark, [(4, "d")]), mode="append")
    S.vacuum(tdir, keep_versions=2)
    for v in (2, 3):
        raw = S._raw_manifest(tdir, v)
        assert raw.get("kind") is None and raw["chain"] == 0
        assert [f["name"] for f in raw["schema"]["fields"]] == ["k", "v", "n"]
        _assert_recorded(spark, tdir, v)


def test_conflicting_types_record_no_schema_and_read_as_before(spark, tdir):
    """An append whose column type differs from the table's records
    nothing rather than picking one of the two types; reads of that
    version infer the schema as they did before schemas were
    recorded."""
    S.write_snapshot(tdir, _kv(spark, [(1, "a")]))
    S.write_snapshot(
        tdir, _kv(spark, [(2, 5)], "k BIGINT, v INT"), mode="append"
    )
    assert S._read_manifest(tdir, 1)["schema"] is None
    # a later commit carrying those files cannot record one either
    S.write_snapshot(tdir, _kv(spark, [(3, "c")]), mode="append")
    assert S._read_manifest(tdir, 2)["schema"] is None
    # a full overwrite records again
    S.write_snapshot(tdir, _kv(spark, [(4, "d")]))
    _assert_recorded(spark, tdir)


def test_manifest_without_a_schema_reads_as_before(spark, tdir):
    """A table whose manifests predate the record: reads infer the
    schema from the files (a subset read sees the subset's own
    columns), and a commit that carries those files records none."""
    S.write_snapshot(
        tdir, _kv(spark, [(1, "a"), (2, "b")]), cluster_by=["k"], n_files=2
    )
    S.write_snapshot(
        tdir, _kv(spark, [(9, "z", 1.5)], "k BIGINT, v STRING, score DOUBLE"),
        mode="append",
    )
    mdir = os.path.join(tdir, "_manifests")
    for name in os.listdir(mdir):
        path = os.path.join(mdir, name)
        with open(path) as f:
            raw = json.load(f)
        raw.pop("schema", None)
        with open(path, "w") as f:
            json.dump(raw, f)
    assert S._read_manifest(tdir, 1).get("schema") is None
    full = S.read_snapshot(spark, tdir)
    assert full.columns == ["k", "v", "score"]
    assert _rows(full) == _rows(_inferred(spark, tdir, 1))
    # the point read keeps only the old file, which lacks `score`
    assert S.read_snapshot(spark, tdir, where_eq=("k", 1)).columns == [
        "k", "v",
    ]
    assert S.read_snapshot(spark, tdir, where_eq=("score", 1.5)).count() == 1
    S.merge_snapshot(spark, tdir, _kv(spark, [(2, "B")]), "k", scope_by="k")
    assert S._read_manifest(tdir, 2).get("schema") is None
    assert sorted(
        (r.k, r.v, r.score) for r in S.read_snapshot(spark, tdir).collect()
    ) == [(1, "a", None), (2, "B", None), (9, "z", 1.5)]


def test_point_read_runs_one_job_and_a_fully_skipped_one_none(spark, tdir):
    S.write_snapshot(
        tdir,
        spark.range(0, 400).select(
            F.col("id").alias("k"), (F.col("id") % 37).alias("cust")
        ),
        cluster_by=["k"], n_files=4, bloom_for=["cust"],
    )
    rows, jobs = spark_jobs(
        spark,
        lambda: S.read_snapshot(spark, tdir, where_eq=("k", 123)).collect(),
    )
    assert [r.cust for r in rows] == [123 % 37] and jobs == 1
    rows, jobs = spark_jobs(
        spark,
        lambda: S.read_snapshot(spark, tdir, where_eq=("k", 10**6)).collect(),
    )
    assert rows == [] and jobs == 0


def _coin_keys(spark, keys):
    """A MERGE source whose key set differs on each evaluation: the
    first key always, every other key on a coin flip made anew by
    each evaluation."""
    import random

    @F.udf("boolean")
    def coin(k):
        return random.random() < 0.5

    coin = coin.asNondeterministic()
    return (
        spark.createDataFrame([(k,) for k in keys], "k BIGINT")
        .where((F.col("k") == keys[0]) | coin("k"))
        .select("k", F.lit("new").alias("v"))
    )


def _carriers(spark, tdir, version, keys):
    """The files of ``version`` that hold any of ``keys``."""
    m = S._read_manifest(tdir, version)
    df = spark.read.parquet(*(os.path.join(tdir, f) for f in m["files"]))
    hits = {
        r[0]
        for r in df.where(F.col("k").isin(keys))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    return {
        rel for rel in m["files"]
        if any(h.endswith(rel) for h in hits)
    }


@pytest.mark.parametrize("scoped", [True, False])
def test_nondeterministic_merge_source_writes_one_key_set(
    spark, tmp_path, scoped
):
    for i in range(3):
        # four dense key ranges, one candidate key in each
        tdir = str(tmp_path / f"t{i}")
        S.write_snapshot(
            tdir,
            spark.range(0, 200).select(
                F.col("id").alias("k"), F.lit("old").alias("v")
            ),
            cluster_by=["k"], n_files=4,
        )
        S.merge_snapshot(
            spark, tdir, _coin_keys(spark, [10, 60, 110, 160]), "k",
            scope_by="k" if scoped else None,
        )
        rows = S.read_snapshot(spark, tdir).collect()
        assert len(rows) == 200 == len({r.k for r in rows}), "duplicated key"
        written = sorted(r.k for r in rows if r.v == "new")
        assert 10 in written
        if scoped:
            old = set(S._read_manifest(tdir, 0)["files"])
            new = set(S._read_manifest(tdir, 1)["files"])
            assert old - new == _carriers(spark, tdir, 0, written)


def _new_blocks(spark, fn):
    """Cached blocks, after ``fn()``, of RDDs that did not hold any
    before it: what ``fn`` left behind, whatever other RDDs the
    context cleaner frees meanwhile."""
    sc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in sc.getRDDStorageInfo()}
    fn()
    return sum(
        i.numCachedPartitions()
        for i in sc.getRDDStorageInfo()
        if i.id() not in before
    )


def test_merge_delete_tick_and_mirror_release_their_materialized_inputs(
    spark, tmp_path
):
    from ensembl_lakehouse_spark import mirror

    src, rollup = str(tmp_path / "src"), str(tmp_path / "rollup")
    dst = str(tmp_path / "mirror")
    S.write_snapshot(
        src,
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
            F.col("id").alias("v"),
        ),
        cluster_by=["k"], n_files=2,
    )
    ivm.maintain_rollup(spark, src, rollup, ["g"], "v")
    mirror.mirror_snapshot(spark, src, dst, key="k", scope_by="k")
    updates = spark.createDataFrame(
        [(k, k % 4, k) for k in range(90, 110)], "k BIGINT, g BIGINT, v BIGINT"
    )
    steps = [
        lambda: S.merge_snapshot(spark, src, updates, "k", scope_by="k"),
        lambda: ivm.maintain_rollup(spark, src, rollup, ["g"], "v"),
        lambda: S.delete_snapshot(
            spark, src, keys=updates.where("k < 95"), key="k", scope_by="k"
        ),
        lambda: mirror.mirror_snapshot(spark, src, dst, key="k", scope_by="k"),
    ]
    assert [_new_blocks(spark, fn) for fn in steps] == [0, 0, 0, 0]
    assert _rows(S.read_snapshot(spark, dst)) == _rows(
        S.read_snapshot(spark, src)
    )
    assert sorted(
        (r.g, r.n_rows) for r in ivm.read_rollup(spark, rollup).collect()
    ) == sorted(
        (r.g, r.n)
        for r in S.read_snapshot(spark, src, version=1)
        .groupBy("g").agg(F.count("*").alias("n")).collect()
    )
