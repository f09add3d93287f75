"""SparkSession construction + catalog of the driver's test tables.

The driver hands us its own SparkSession for ``entry()``/``queries()``, so
anything correctness-critical (nanos parquet handling, UTC session
timezone) is applied *per-session* in :func:`configure` — never assumed
from the builder.

Scale: these confs are the local[32] defaults; on a real cluster the same
code runs with cluster-sized ``spark.sql.shuffle.partitions`` (or AQE
coalescing, which we enable) and per-executor memory. Nothing here pins a
single-node assumption.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime confs every query needs regardless of who built the session.
#: - nanosAsLong: the events table stores TIMESTAMP(NANOS) parquet, which
#:   Spark 4 refuses to read natively (PARQUET_TYPE_ILLEGAL); reading the
#:   nanos as a long and converting explicitly is lossless and lets us keep
#:   the raw value for exact ordering.
#: - UTC timezone: DuckDB (the correctness oracle) works in naive/UTC
#:   timestamps; pinning the session TZ makes TimestampType renderings agree.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (partition coalescing, skew-join splitting,
    # broadcast demotion/promotion). Cheap insurance at every scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # No per-Column call-site capture: with it on, every F.col, Column
    # operator and transform call makes ~5 extra Py4J round trips
    # (getActiveSession, a conf read, PySparkCurrentOrigin.set/clear).
    # Errors keep their error class and DataFrame fragment; only the
    # Python file:line goes. PySpark caches the flag at the process's
    # first Column call, so get_session's builder sets it before any
    # Column exists.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


#: Large-state streaming path: Spark's embedded RocksDB state store keeps
#: per-key streaming state (aggregations, dedup sets, join buffers) on
#: local disk with an in-memory block cache instead of as JVM-heap objects.
#: At 100 TB-class state (billions of dedup keys, week-long stream-stream
#: join buffers) the default HDFS-backed in-memory provider OOMs or GC-
#: stalls; RocksDB bounds memory and survives state ≫ RAM. Opt in with
#: SPARK_GRAFT_STATE_STORE=rocksdb (session-build-time only — the state
#: store provider cannot change across a checkpoint's lifetime).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: Entries of Spark's JVM-wide cache of compiled generated classes (a
#: static conf, set in :func:`get_session`; default 100). One pass of the
#: 11-query ``llm_corpus`` mix generates 184 distinct classes and the
#: whole catalog about 2,600 (sf0.001), so the default evicts every class
#: before the mix comes back to it and each warm pass recompiles ~176 of
#: them with Janino, losing their JIT-compiled code too. 4096 holds the
#: whole catalog with ~1.6x headroom; held after a full catalog pass it
#: costs ~20 MB of Metaspace (197.8 -> 218.1 MB), ~3 MB of compressed
#: class space and ~80 MB of heap.
CODEGEN_CACHE_ENTRIES = 4096


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-provided session (driver's).

    Static confs are fixed when the JVM's session state is built, so a
    session handed in keeps its builder's values: in particular Spark's
    default generated-code cache, which only :func:`get_session` sizes to
    :data:`CODEGEN_CACHE_ENTRIES`. Likewise PySpark caches
    ``spark.python.sql.dataFrameDebugging.enabled`` at the process's
    first Column call: a session handed in after Columns were built
    keeps per-Column call-site capture on, whatever this sets."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable at runtime in some deployments — never fatal.
            pass
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        try:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
            )
        except Exception:
            pass
    return spark


def get_session(app_name: str = "gomaxscale_spark", cpus: int | None = None) -> SparkSession:
    """Build a local session for tests/bench.

    local[N] = one JVM, N task threads. On a cluster the identical query
    code runs unchanged; only master/memory/shuffle-partition confs move.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # 16 MB thread stacks: py4j executes a foreachBatch callback's
        # whole driver-side work (analysis, optimization, codegen and its
        # regex passes) ON the stream-execution thread; with the JVM's
        # default ~1 MB stack a long-lived session intermittently dies
        # with StackOverflowError inside java.util.regex on the lake-sink
        # checkpoints (reproduced on unchanged r15 code — inherited, not
        # an optimization regression). Stack memory is virtual until
        # touched, so the cost of the headroom is nil.
        .config("spark.driver.extraJavaOptions", "-Xss16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # static: one compile per generated class for the session's life
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)


def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (cache misses of
    the generated-code cache); a difference of two reads counts the
    compilations between them."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
