"""Fixture-table loaders (TESTDATA.md tables).

One place that knows the physical quirks of the test lake so the
rest of the engine sees clean typed DataFrames:

- ``events.ts`` has shipped in two physical encodings across
  fixture generations: TIMESTAMP(NANOS) (which Spark's Parquet
  reader rejects — [PARQUET_TYPE_ILLEGAL] — so we read nanos as
  long via the legacy conf and rebuild TIMESTAMP_NTZ with epoch
  arithmetic) and plain TIMESTAMP(MICROS). ``normalize_event_ts``
  dispatches on the *observed* Spark type so both generations load
  to the same TIMESTAMP_NTZ µs column — exactly what DuckDB's
  µs-resolution naive TIMESTAMP sees, so oracle comparisons agree.
- Everything else reads natively; ms-timestamps arrive as
  TIMESTAMP_NTZ which matches DuckDB's naive TIMESTAMP semantics.

Schema memo: a fixture file's inferred schema is kept per (path,
mtime, size, nanos-as-long read), so a later ``load_table`` of the
unchanged file reads with ``spark.read.schema(...)`` and runs no
schema-inference Spark job (the Delta Lake rule of recording a
schema so readers never infer it; snapshot manifests do the same).
Like the row-group memo it holds metadata only, never rows; a
rewrite changes the key, and directories or files that cannot be
stat'ed are always inferred.

Scale note: these are plain ``spark.read.parquet`` scans — column
pruning and predicate pushdown apply. At 100 TB the same loader
would point at a partitioned/bucketed lake layout (see
catalog.DEFAULT_KEY_COLUMN for the partition keys) or Delta tables;
the API is unchanged.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP_NTZ (µs).

    Dispatches on the observed type so every fixture generation
    lands on identical values:

    - ``bigint``  — epoch *nanos* read via the nanosAsLong legacy
      conf; truncate to µs (DuckDB truncates the same way) and
      rebuild NTZ with tz-independent epoch arithmetic.
    - ``timestamp`` (instant) — cast to NTZ; the session timezone
      is pinned to UTC (session.py) so the wall clock is preserved.
    - ``timestamp_ntz`` — already the canonical shape; no-op.
    """
    dt = df.schema[col].dataType.simpleString()
    if dt == "bigint":
        return df.withColumn(
            col,
            F.expr(
                f"timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if dt == "timestamp":
        return df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a typed DataFrame."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(_read_parquet(spark, path, True))
    return _read_parquet(spark, path, False)


#: (abs path, mtime_ns, size) -> row-group count. Metadata only —
#: never rows or results — so memoizing it across plan builds is the
#: same class as Spark's own file-index cache; the mtime/size key
#: invalidates on any rewrite.
_ROW_GROUP_CACHE: dict[tuple[str, int, int], int] = {}

#: (abs path, mtime_ns, size, nanos-as-long read) -> inferred schema;
#: metadata only, keyed and bounded like _ROW_GROUP_CACHE.
_SCHEMA_CACHE: dict[tuple[str, int, int, bool], StructType] = {}


def _read_parquet(spark: SparkSession, path: str, nanos_as_long: bool) -> DataFrame:
    """``spark.read.parquet(path)``, given the schema inferred by an
    earlier read of the same unchanged regular file, so only the
    first read runs Spark's schema-inference job."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size, nanos_as_long)
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_SCHEMA_CACHE) > 1024:
        _SCHEMA_CACHE.clear()
    _SCHEMA_CACHE[key] = df.schema
    return df


def _row_groups(path: str) -> int:
    """Row-group count of one local parquet file (the real upper
    bound on scan parallelism — Spark assigns each row group to the
    single split holding its midpoint, so byte-range splits beyond
    the row-group count are empty tasks)."""
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    got = _ROW_GROUP_CACHE.get(key)
    if got is None:
        import pyarrow.parquet as pq

        got = pq.ParquetFile(path).metadata.num_row_groups
        if len(_ROW_GROUP_CACHE) > 1024:
            _ROW_GROUP_CACHE.clear()
        _ROW_GROUP_CACHE[key] = got
    return got


def scan_parallelism(sf_dir: str, name: str) -> int:
    """Effective scan parallelism for a fixture table: its parquet
    file's row-group count (one file per table in this lake)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        return _row_groups(path)
    except OSError:
        return 1


def spread_scan(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """Guide §2.5 input-skew fix, applied conditionally: a
    single-row-group parquet file scans as ONE task, serializing all
    map-side work (tokenization, hashing, HOF evaluation, partial
    aggregation) onto one core regardless of cluster width — the
    "one huge unsplittable file" case, whose prescribed fix is
    *repartition immediately after the read*.

    Repartitions ``df`` to ``defaultParallelism`` hash-partitioned on
    ``keys`` (a high-cardinality deterministic column — keyed, never
    round-robin, so there is no sortBeforeRepartition pass and no
    retry-duplication hazard) **only when** the backing file's
    row-group count is below the session's default parallelism. On a
    well-laid-out table (the 100 TB case: many row groups and files)
    this is a NO-OP and the plan is unchanged at scale.

    Downstream operators that cluster on a prefix of ``keys`` reuse
    the exchange (HashPartitioning(keys) satisfies any
    ClusteredDistribution containing them), so the added exchange
    usually *replaces* the first aggregation/window exchange rather
    than adding one.

    Correctness contract for callers: only use where every downstream
    aggregate is partition-order invariant (counts, integer/decimal
    sums, min/max, exact ``percentile``, windows with total-order
    tie-breaks). Float-accumulating lineages (``corr``, double sums)
    must NOT be spread — partial-sum order would change last-ulp
    results and break the bit-exact oracle contract.
    """
    target = spark.sparkContext.defaultParallelism
    if scan_parallelism(sf_dir, name) * 2 >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """``load_table`` + conditional ``spread_scan`` in one call —
    the form operators with expensive map-side work (tokenization,
    hashing, HOF math, partial aggregation) use so a
    single-row-group fixture file cannot serialize that work onto
    one task. ``keys`` must be a deterministic high-cardinality
    column (see spread_scan's correctness contract)."""
    if not keys:
        raise ValueError("load_spread requires at least one spread key")
    return spread_scan(
        load_table(spark, sf_dir, name), spark, sf_dir, name, *keys
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
