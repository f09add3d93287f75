"""The events table has shipped with two physical `ts` encodings across
driver testdata generations: TIMESTAMP(NANOS) (Spark reads it as a long
via spark.sql.legacy.parquet.nanosAsLong) and native TIMESTAMP(MICROS)
(Spark 4 reads TIMESTAMP_NTZ). `catalog.load_table` must normalize both
to the same logical pair — ts TIMESTAMP (µs, UTC session) + ts_ns BIGINT
— so every downstream plan and oracle twin is encoding-agnostic.

`catalog.load_table` also caches each file's inferred schema: a repeat
open of an unchanged file runs no Spark job, and a changed file is
inferred again.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import types as T

from gomaxscale_spark.catalog import load_table

ROWS = {
    "event_id": [1, 2, 3],
    "user_id": [10, 20, 30],
    "event_type": ["click", "view", "purchase"],
    "value": [1.5, 2.5, 3.5],
    "props": ["{}", "{}", "{}"],
}
# distinct µs values incl. one with sub-ms precision
TS_US = [1704067200_000000, 1704067200_123456, 1704153599_999999]


#: the two physical ts encodings, with the ts_ns each must yield
ENCODINGS = {
    "micros": (pa.array(TS_US, type=pa.timestamp("us")), [us * 1000 for us in TS_US]),
    "nanos": (
        pa.array([us * 1000 + 7 for us in TS_US], type=pa.timestamp("ns")),
        [us * 1000 + 7 for us in TS_US],
    ),
}


def _write_events(dirpath, ts_array):
    table = pa.table({**{k: pa.array(v) for k, v in ROWS.items()}, "ts": ts_array})
    # column order must match the real table
    table = table.select(["event_id", "ts", "user_id", "event_type", "value", "props"])
    # write-then-rename, the way a producer replaces a file atomically
    tmp = f"{dirpath}/.events.parquet.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, f"{dirpath}/events.parquet")
    return str(dirpath)


def _ts_ns(df):
    return [r["ts_ns"] for r in df.orderBy("event_id").collect()]


def test_load_table_normalizes_micros_timestamp(spark, tmp_path):
    d = tmp_path / "us"
    d.mkdir()
    _write_events(d, pa.array(TS_US, type=pa.timestamp("us")))
    df = load_table(spark, str(d), "events")
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props",
    ]
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert isinstance(df.schema["ts_ns"].dataType, T.LongType)
    got = {r["event_id"]: r["ts_ns"] for r in df.collect()}
    assert got == {i + 1: us * 1000 for i, us in enumerate(TS_US)}


def test_load_table_normalizes_nanos_long(spark, tmp_path):
    d = tmp_path / "ns"
    d.mkdir()
    _write_events(d, pa.array([us * 1000 + 7 for us in TS_US], type=pa.timestamp("ns")))
    df = load_table(spark, str(d), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = {r["event_id"]: r["ts_ns"] for r in df.collect()}
    # exact nanos preserved (the +7 ns survives in ts_ns, truncated in ts)
    assert got == {i + 1: us * 1000 + 7 for i, us in enumerate(TS_US)}


def test_both_encodings_agree_on_ts_wall_clock(spark, tmp_path):
    d_us = tmp_path / "a"
    d_ns = tmp_path / "b"
    d_us.mkdir()
    d_ns.mkdir()
    _write_events(d_us, pa.array(TS_US, type=pa.timestamp("us")))
    _write_events(d_ns, pa.array([us * 1000 for us in TS_US], type=pa.timestamp("ns")))
    ts_us = [r["ts"] for r in load_table(spark, str(d_us), "events").orderBy("event_id").collect()]
    ts_ns = [r["ts"] for r in load_table(spark, str(d_ns), "events").orderBy("event_id").collect()]
    assert ts_us == ts_ns


@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_second_load_runs_no_jobs(spark, tmp_path, encoding, spark_jobs):
    ts, want = ENCODINGS[encoding]
    d = _write_events(tmp_path, ts)
    first, jobs = spark_jobs(lambda: load_table(spark, d, "events"))
    assert jobs >= 1  # schema inference reads a footer
    second, jobs = spark_jobs(lambda: load_table(spark, d, "events"))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, first.collect()))
    assert _ts_ns(second) == want


def test_rewritten_file_is_reinferred(spark, tmp_path, spark_jobs):
    d = _write_events(tmp_path, ENCODINGS["nanos"][0])
    assert _ts_ns(load_table(spark, d, "events")) == ENCODINGS["nanos"][1]
    _write_events(tmp_path, ENCODINGS["micros"][0])
    df, jobs = spark_jobs(lambda: load_table(spark, d, "events"))
    assert jobs >= 1
    assert _ts_ns(df) == ENCODINGS["micros"][1]


def test_directory_table_gaining_a_part_is_reinferred(spark, tmp_path, spark_jobs):
    table = tmp_path / "documents.parquet"
    table.mkdir()

    def add_part(i):
        pq.write_table(pa.table({"doc_id": [i], "text": [f"doc {i}"]}), f"{table}/part-{i}.parquet")

    add_part(0)
    load_table(spark, str(tmp_path), "documents")
    _, jobs = spark_jobs(lambda: load_table(spark, str(tmp_path), "documents"))
    assert jobs == 0
    add_part(1)
    df, jobs = spark_jobs(lambda: load_table(spark, str(tmp_path), "documents"))
    assert jobs >= 1
    assert sorted(r["doc_id"] for r in df.collect()) == [0, 1]


def test_warm_construction_jobs_budget(spark, sf_dir, spark_jobs):
    """Plan construction on a warm schema cache: the schema jobs are
    gone, and only the eager materialize_once barriers remain."""
    from gomaxscale_spark.plans import all_queries

    q = all_queries()
    budget = {
        "dedup_exact_documents": 0,
        "dedup_simhash": 0,
        "text_quality_score": 0,
        "text_gopher_rules": 0,
        "dedup_minhash_lsh": 11,
        "dedup_minhash_lsh_capped": 11,
        "dedup_embedding_lsh_scaled": 1,
    }
    load_table(spark, sf_dir, "documents")
    load_table(spark, sf_dir, "embeddings")
    for name, most in budget.items():
        _, jobs = spark_jobs(lambda: q[name].fn(spark, sf_dir))
        assert jobs <= most, (name, jobs, most)


#: the ``llm_corpus`` benchmark mix: its warm passes recompiled ~176
#: generated classes each while Spark's codegen cache held 100 entries
LLM_CORPUS = [
    "dedup_exact_documents", "dedup_minhash_lsh", "dedup_minhash_lsh_capped",
    "dedup_simhash", "dedup_embedding_cosine", "similarity_cosine_topk",
    "text_tfidf", "text_quality_score", "search_bm25_topk",
    "sampling_dsir_weights", "text_gopher_rules",
]


def test_warm_mix_reuses_generated_classes(spark, sf_dir):
    """A session from ``get_session`` keeps the mix's whole generated-code
    working set: a second pass compiles almost nothing (~176 classes
    with Spark's default 100-entry cache). Repeating one query back to
    back would hit even the small cache; only cycling through the mix
    shows eviction."""
    from gomaxscale_spark.plans import all_queries
    from gomaxscale_spark.session import codegen_compilations

    q = all_queries()

    def one_pass():
        before = codegen_compilations(spark)
        for name in LLM_CORPUS:
            q[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_compilations(spark) - before

    first = one_pass()
    second = one_pass()
    assert second <= 10, (first, second)


def test_session_skips_column_call_site_capture(spark):
    """``get_session`` turns off PySpark's per-Column call-site capture
    (about five Py4J round trips per Column call) before any Column
    exists, so PySpark's cached flag reads it as off."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
