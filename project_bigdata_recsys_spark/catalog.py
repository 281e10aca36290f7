"""Table catalog for the driver test data.

The driver ships a deterministic TPC-H-ish star schema plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings`` (vector
table) as parquet under ``/root/testdata/sf*/`` (see TESTDATA.md).

The reference's system of record is five PostgreSQL heap tables
(reference sql/init.sql:1-77); our system of record is columnar parquet
read through Spark's vectorized reader, which gives predicate pushdown and
column pruning for free — the two optimizations the reference manually
approximates with narrow SELECT lists (reference dashboard/app.py:273-283).

Every read of a table goes through :func:`load_table`, and every schema a
stream or a replay needs from a table file through :func:`parquet_schema`.
Inferring a parquet schema submits one Spark job, so the inferred schema of
a regular file is cached in-process, keyed by the file's absolute path,
size and ``st_mtime_ns`` plus the values of the SQL confs the parquet
reader consults when it maps a footer to Spark types (``_SCHEMA_CONFS``);
a read of an unchanged file then passes ``.schema(s)`` and submits no job.
A directory (a table Spark wrote, or a path ``os.stat`` cannot see) is
inferred on every read: its part files can change while the directory's
own size and mtime stay put.  Only schemas are cached, never DataFrames:
each call builds a fresh relation, so self-joins get fresh attribute ids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
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
]

#: Dimension tables small enough to broadcast at any realistic scale factor.
#: At 100 TB the facts (lineitem/orders/events/documents) grow ~linearly but
#: region/nation stay tiny and supplier/part/customer stay orders of
#: magnitude smaller than the facts — broadcast joins avoid shuffling the
#: fact side entirely.
BROADCAST_TABLES = {"region", "nation", "supplier"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: SQL confs that change the Spark schema read from one parquet footer
#: (nanos as long, NTZ inference, binary as string, INT96 as timestamp).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

_SCHEMAS: dict[tuple, StructType] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, before any
    normalization.  A regular file's schema is inferred once per (path,
    size, mtime, schema confs) and then served from the cache without a
    job; any other path is inferred on every call."""
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    key = (
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        *(spark.conf.get(c) for c in _SCHEMA_CONFS),
    )
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return _SCHEMAS[key]


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zoned TIMESTAMP regardless of how
    the parquet writer encoded it.  Two encodings appear in the wild:

    - parquet TIMESTAMP(NANOS): Spark has no nanos type, so with
      ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a LongType of
      epoch nanos — truncate to micros (same truncation DuckDB applies).
    - parquet ``timestamp[us]`` without timezone: Spark reads TIMESTAMP_NTZ.
      Watermarks, double-casts and epoch arithmetic all require the
      session-zoned TIMESTAMP type, so cast — the session timezone is pinned
      UTC (:func:`_ensure_session_confs`), making the cast a pure type-tag
      change with identical wall-clock values to what DuckDB reads.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


def _ensure_session_confs(spark: SparkSession) -> None:
    """Correctness confs that must hold in ANY session, not just one built
    by :func:`session.get_spark` — e.g. an externally created driver/gate
    session.  Both are runtime-settable SQL confs, so setting them here is
    cheap (a conf-map write) and idempotent:

    - ``nanosAsLong``: events.ts is parquet TIMESTAMP(NANOS), which Spark
      has no native type for; read as long, converted in
      :func:`normalize_events` (truncation to micros matches DuckDB).
    - UTC session timezone: keeps timestamp formatting identical to the
      DuckDB oracle regardless of host timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test-data table as a new DataFrame.  The read is given
    :func:`parquet_schema`'s schema, so after the first read of an
    unchanged table file under the same confs it submits no job."""
    from project_bigdata_recsys_spark.functions.fixedpoint import note_sf_dir

    note_sf_dir(sf_dir)
    _ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events(df)
    return df


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism when
    the input has FEWER partitions.

    Compute-heavy per-row stages (md5 hashing, tokenize+shingle) otherwise
    inherit the scan's partitioning — and a small parquet file is ONE split,
    so the whole hash stage runs on a single core while 31 idle (measured
    ~6x wall-clock on the minhash signature stage at sf0.1).  On a real
    corpus the scan already has >= parallelism splits and this is a no-op —
    it never coalesces, so it cannot hurt the scaled-up plan."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view so Spark SQL can address them by
    the same names the DuckDB oracle uses."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
