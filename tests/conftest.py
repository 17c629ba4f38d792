from __future__ import annotations

import os

import pytest

from ensembl_lakehouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Fewer shuffle partitions and cores for tiny (sf0.001) test
    # data: keeps test wall time dominated by work, not task
    # scheduling — shuffle=2 measured test_ivm 147.7 -> 133.6 s and
    # local[8] another ~4% vs local[32] (r12, VERDICT #2 gate-time
    # work). Results are unaffected by contract: every operator is
    # partition-order invariant (spread_scan rule) and plan budgets
    # count exchanges, not partitions. Both env-overridable.
    spark = get_spark(
        app_name="elh-tests",
        extra_conf={
            "spark.sql.shuffle.partitions": os.environ.get(
                "SPARK_GRAFT_TEST_SHUFFLE", "2"
            ),
        },
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '8')}]",
    )
    yield spark


@pytest.fixture(scope="session")
def catalog(spark):
    from ensembl_lakehouse_spark.catalog import Catalog

    cat = Catalog(spark)
    cat.register_dir(SF_DIR)
    return cat


@pytest.fixture()
def engine(spark, tmp_path):
    from ensembl_lakehouse_spark.engine import Engine

    eng = Engine(spark, work_dir=str(tmp_path))
    eng.catalog.register_dir(SF_DIR)
    yield eng
    eng.close()


def duckdb_scalar(sql: str):
    """One-value DuckDB oracle probe shared by the per-round pin
    files (was four hand-synced copies of the same `_scalar`)."""
    import duckdb

    return duckdb.sql(sql).fetchone()[0]


def spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs it ran)``: the jobs are counted
    under a job group of their own (``setJobGroup`` +
    ``statusTracker``), after the listener bus has caught up, so jobs
    from earlier calls or other threads do not count."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
