"""``sources.tables.load_table``'s schema memo: a fixture file's
schema is inferred by its first load only; a later load of the same
unchanged file reads with that schema and runs no Spark job, a
rewritten file is inferred again, and a directory is never memoized."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampNTZType

from ensembl_lakehouse_spark.sources import tables as TB
from tests.conftest import SF_DIR, spark_jobs


def _load_twice(spark, sf_dir, name):
    first, first_jobs = spark_jobs(spark, lambda: TB.load_table(spark, sf_dir, name))
    second, second_jobs = spark_jobs(spark, lambda: TB.load_table(spark, sf_dir, name))
    return first, first_jobs, second, second_jobs


def test_second_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_DIR, "nation.parquet"), tmp_path / "nation.parquet")
    first, first_jobs, second, second_jobs = _load_twice(spark, str(tmp_path), "nation")
    assert first_jobs >= 1  # the inference job the memo saves
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert TB.load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3, 4], "b": ["z", "w"], "c": [1.5, 2.5]}), path)
    df = TB.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "z", 1.5), (4, "w", 2.5)]


def test_events_ts_is_ntz_on_first_and_memoized_read(spark, tmp_path):
    """Both fixture generations: the checked-in TIMESTAMP(MICROS)
    file and a TIMESTAMP(NANOS) one read through the nanos-as-long
    path."""
    micros = tmp_path / "micros"
    micros.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), micros / "events.parquet")
    nanos = tmp_path / "nanos"
    nanos.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    [1_000_000_123_456_789, 1_700_000_000_000_000_999],
                    pa.timestamp("ns"),
                ),
            }
        ),
        str(nanos / "events.parquet"),
        version="2.6",
    )
    assert pq.read_schema(str(nanos / "events.parquet")).field("ts").type == pa.timestamp("ns")
    for sf_dir in (micros, nanos):
        first, _, second, second_jobs = _load_twice(spark, str(sf_dir), "events")
        assert second_jobs == 0
        assert first.schema["ts"].dataType == TimestampNTZType()
        assert second.schema == first.schema
        assert sorted(second.collect()) == sorted(first.collect())


def test_directory_is_not_memoized(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    spark.range(3).write.parquet(path)
    _, first_jobs, second, second_jobs = _load_twice(spark, str(tmp_path), "d")
    assert first_jobs >= 1 and second_jobs >= 1
    assert not any(key[0] == os.path.abspath(path) for key in TB._SCHEMA_CACHE)
    assert sorted(r.id for r in second.collect()) == [0, 1, 2]
