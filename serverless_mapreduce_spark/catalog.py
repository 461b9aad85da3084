"""Table catalog over the parquet fixtures.

The reference enumerates raw S3 objects and leaves schema to user map code +
Hive DDL (``data_sources/input_handler_s3.py:51-70``, ``hive/Query1.q``).
Here schema is first-class: tables are parquet with embedded schema, and
:func:`table` reads each one against a process-wide schema memo, so only
the first read of a file runs Spark's footer-scan inference job.

The memo is keyed on the identity of its inputs (:func:`table_schema`):
the table's real path, the size and ``st_mtime_ns`` of the file (or of
every file under it, for a directory-form table), and the session's values
of :data:`SCHEMA_CONFS`, the confs that change how parquet types map to
Spark types. It misses, and inference runs again, whenever a file is
rewritten, added or removed, or one of those confs changes. Paths that are
not local files (object-store URIs) are never memoized.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: SQL confs that change the Spark type a parquet column infers to; their
#: session values are part of the schema memo's key
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    # which footers a directory-form table's schema is read from
    "spark.sql.parquet.mergeSchema",
)

#: (real path, conf values) -> (file identity, inferred schema). One entry
#: per path and conf setting: a rewritten file replaces its entry rather
#: than adding one. Single dict reads and writes need no lock; two threads
#: racing on a miss both infer, and either result is right.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_identity(path: str) -> tuple:
    """(relative name, size, mtime_ns) of ``path``, or of every file under
    it when it is a directory. An os.stat/os.walk: no Spark job. Raises
    OSError when ``path`` is not a local file or directory."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (("", st.st_size, st.st_mtime_ns),)
    ident = []
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            fst = os.stat(p)
            ident.append((os.path.relpath(p, path), fst.st_size, fst.st_mtime_ns))
    return tuple(ident)


def _path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return f"{sf_dir}/{name}.parquet"


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The Spark schema of one fixture table, inferred at most once per
    (real path, file identity, :data:`SCHEMA_CONFS` values)."""
    path = _path(sf_dir, name)
    if name == "events":
        # events.parquet has stored TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects outright. nanosAsLong is a runtime-settable SQL
        # conf, so set it here rather than only in our session factory —
        # callers (the driver's harness included) bring their own session.
        # It is set before the memo key reads it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        real = os.path.realpath(path)
        ident = _file_identity(real)
    except OSError:
        return spark.read.parquet(path).schema  # not local: no identity, no memo
    key = (real, tuple(spark.conf.get(c) for c in SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == ident:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (ident, schema)
    return schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Columnar scan → Catalyst prunes columns and
    pushes predicates into the parquet reader (check via PushedFilters /
    ReadSchema in .explain). The schema comes from :func:`table_schema`,
    so a repeat read of an unchanged file runs no Spark job."""
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(_path(sf_dir, name))
    if name == "events":
        df = df.withColumn("ts", _to_ntz(schema["ts"].dataType.simpleString()))
    return df


def _to_ntz(dtype: str | None) -> Column:
    """Normalize the events ``ts`` column to TIMESTAMP_NTZ — the engine-wide
    event-time type. NTZ is wall-clock arithmetic with no session-timezone
    dependence, which is exactly DuckDB's TIMESTAMP: queries hash-match the
    oracle under ANY caller timezone (the hostile-TZ tests rely on this).
    The fixtures have shipped two physical encodings, both mapped here:

    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark already reads
      timestamp_ntz: pass through.
    - TIMESTAMP(NANOS) → read as epoch-nanos BIGINT via nanosAsLong (the
      vectorized reader rejects nanos outright), then *integer*-divide to
      micros (epoch-nanos ~1.7e18 exceed double's 53-bit mantissa — a
      float `/1000` would corrupt microseconds) and add to the NTZ epoch
      with pure wall-clock timestampadd.
    """
    if dtype == "bigint":
        return F.expr(
            "timestampadd(MICROSECOND, ts div 1000,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    return F.col("ts")


def epoch_us(col: Column) -> Column:
    """Timezone-free epoch microseconds from a TIMESTAMP_NTZ column — the
    twin of DuckDB's ``epoch_us``. ``unix_micros`` only accepts TIMESTAMP
    (instant) input; this is the NTZ equivalent, pure wall-clock diff."""
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        col,
    )


def ensure_parallelism(spark: SparkSession, df: DataFrame, *keys: str) -> DataFrame:
    """Restore scan parallelism for CPU-heavy narrow pipelines.

    Parquet scans split at row-group granularity; the small fixture files are
    single-row-group, so a scan yields ONE partition and every per-row
    expression downstream (shingling, minhash, LSH bits) runs on one core —
    and AQE then coalesces the tiny shuffles back to 1 partition too.

    With ``keys``, this hoists the exchange the downstream aggregation/join
    would perform anyway: ``repartition(n, keys)`` moves the hash shuffle
    *before* the expensive projection, so compute parallelizes and the later
    ``groupBy(keys)`` reuses the partitioning (no second exchange). With an
    explicit partition count, AQE does not re-coalesce it. Without ``keys``
    it round-robins, which adds one shuffle of the *raw* (pre-explosion)
    rows — cheapest possible placement.

    Gated: a no-op whenever the scan already splits (≥ half the cores), which
    is always true on real multi-row-group data at scale — so plans at 100 TB
    are unchanged while single-file fixtures use the whole machine."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, n // 2):
        return df
    from pyspark.sql import functions as F

    return df.repartition(n, *[F.col(k) for k in keys]) if keys else df.repartition(n)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every fixture table as a temp view (for the SQL surface)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def unique_view(df: DataFrame, prefix: str) -> str:
    """Register ``df`` as a temp view under a UNIQUE per-invocation name
    and return it. Temp views are session-global state, and the engine
    invites concurrent query threads — a fixed view name would let two
    in-flight runs (e.g. over different sf_dirs) read each other's data.
    The canonical fixture names stay fixed by design in
    :func:`register_views` (the opt-in SQL surface); every view that is
    internal plumbing for one query goes through here.

    Lifetime: the view is registered with caching.track_view and dropped
    at the next query-scoped ``release_cached()`` on this thread — NOT by
    the operator before returning. An eager drop only worked because
    classic PySpark analyzes the referencing plan at build time; Spark
    Connect defers analysis to execution, where the view must still
    exist."""
    import uuid

    from serverless_mapreduce_spark.caching import track_view

    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    df.createOrReplaceTempView(name)
    track_view(df.sparkSession, name)
    return name
