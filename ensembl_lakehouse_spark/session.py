"""SparkSession factory tuned for this engine.

Local-mode defaults are sized for the test harness (local[N] with a
modest shuffle-partition count); every setting that matters at
cluster scale (AQE, skew-join handling, Arrow transfers, partition
sizing) is set here so the same code runs unchanged on a
1000-executor cluster — only ``master`` and the partition counts
change via config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local-mode width: one task slot per host core unless
# $SPARK_GRAFT_CPUS says otherwise.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))

# At 100 TB these become cluster-level settings (e.g. shuffle
# partitions ~= 2-3x total cores, maxPartitionBytes 128-256 MB); the
# knobs below are the local-mode equivalents of the same policy.
_BASE_CONF: dict[str, str] = {
    # Adaptive execution: runtime coalescing of shuffle partitions,
    # skew-join splitting, and dynamic join-strategy switching. This
    # is the single most important 100 TB setting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Shuffle width: 2x local cores; on a cluster, override to
    # ~2-3x total executor cores.
    "spark.sql.shuffle.partitions": "64",
    # Parquet scan sizing: 128 MB splits keep scan tasks uniform.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Arrow for every pandas exchange (Pandas UDFs, toPandas);
    # row-at-a-time Python UDFs are banned in the hot path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast threshold: dims (region/nation/supplier/part at our
    # SFs) broadcast automatically; large fact-fact joins shuffle.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Timestamps in the fixtures are timestamp[ns]/timestamp[ms];
    # keep Parquet reads lossless.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # The events fixture stores TIMESTAMP(NANOS), which the Parquet
    # reader otherwise rejects; sources/tables.py rebuilds µs NTZ.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Quieter local runs.
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "ensembl_lakehouse_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests,
    bench.py, and the driver harness share one code path. On a real
    cluster, pass ``master=None`` with ``spark.master`` preset in the
    environment, or an explicit ``yarn``/``k8s://`` URL.
    """
    builder = SparkSession.builder.appName(app_name)
    active = SparkSession.getActiveSession()
    if active is not None:
        if master is not None or extra_conf:
            # One JVM, one session: a second caller's master/conf
            # CANNOT be applied to a running context. Returning the
            # active session is correct for the shared-session code
            # path; doing it silently while dropping explicit
            # settings is not.
            import warnings

            warnings.warn(
                "get_spark: an active SparkSession exists; the "
                "requested master/extra_conf are NOT applied. Call "
                "stop_spark() first to rebuild with new settings.",
                RuntimeWarning,
                stacklevel=2,
            )
        return active
    builder = builder.master(master or f"local[{_DEFAULT_CPUS}]")
    for key, value in _BASE_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
