"""Table catalog over the driver-generated parquet test data.

Loads the TPC-H-ish star schema + the stream/LLM tables
(``TESTDATA.md``) and normalizes the one awkward physical detail: the
``events.ts`` column is nanosecond-precision parquet, which Spark reads as
a long (see session.RUNTIME_CONFS). We expose BOTH:

- ``ts``     TIMESTAMP  — truncated to microseconds (Spark's native
  precision); use for windowing / date_trunc, where both engines floor.
- ``ts_ns``  BIGINT     — the exact nanosecond value; use wherever exact
  event ordering matters (CDC offset-style ordering, as-of joins).

Scale: `spark.read.parquet` gives Catalyst full pushdown (PushedFilters /
ReadSchema pruning) and partition-parallel scans. At 100 TB the same call
reads a partitioned/ bucketed lake layout; nothing here materializes or
collects. Inferring a parquet schema costs one Spark job (a footer read),
so :func:`read_parquet` caches each path's inferred schema and later
reads pass it to ``spark.read.schema``, which runs no job. Only the
schema is cached: the file listing and the data are read fresh on every
call. The cache key is the resolved path, the file's identity (size,
mtime and inode; for a directory, the sorted listing of every file
under it with the same three facts) and the session confs that decide
the inferred types (``nanosAsLong`` turns ``events.ts`` into a BIGINT).
An in-place rewrite that keeps the size and lands within the
filesystem's timestamp granularity is the one change the key cannot see.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .session import configure

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

#: Small dimension tables — always broadcast in joins (a few KB..MB even at
#: TPC-H SF100k; region=5 rows, nation=25 rows at every SF).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def event_ts_as_timestamp(df: DataFrame) -> DataFrame:
    """Normalize the physical `ts` column to a µs TimestampType.

    The driver's events parquet has shipped with two physical encodings:
    TIMESTAMP(NANOS) (which Spark reads as a long via nanosAsLong) and
    native TIMESTAMP(MICROS) (which Spark 4 reads as TIMESTAMP_NTZ).
    Both represent the same UTC wall-clock; with the session TZ pinned to
    UTC the NTZ→TZ cast is instant-preserving, so downstream plans see one
    stable TimestampType either way.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # integer div, not `/1000` — double division rounds the µs
        # at 1e18-scale nanos (off-by-one vs the oracle's truncation)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


#: Session confs that change the schema Spark infers from a parquet footer.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: resolved path -> (key, schema). One slot per path, so a rewritten
#: file replaces its stale entry instead of adding one. A schema is a
#: pure function of the key, so the process shares one cache.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _file_identity(path: str) -> tuple | None:
    """(size, mtime_ns, inode) of a file, or the sorted tuple of
    (relpath, size, mtime_ns, inode) of every file under a directory;
    None when ``path`` is not on the local filesystem."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    listing = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            listing.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(listing))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when the
    path is new or its files changed; see the module's Scale note."""
    resolved = os.path.realpath(path)
    identity = _file_identity(resolved)
    if identity is None:
        return spark.read.parquet(path)
    key = (identity, tuple(spark.conf.get(k, None) for k in SCHEMA_CONFS))
    hit = _SCHEMAS.get(resolved)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[resolved] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # expose BOTH: ts TIMESTAMP (µs) and ts_ns BIGINT exact nanos
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
            )
        else:
            df = event_ts_as_timestamp(df).withColumn(
                "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)
            )
        df = df.select("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view for the SQL API."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
