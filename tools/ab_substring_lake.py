#!/usr/bin/env python
"""A/B: substring-lake probe_coverage vs raw incremental re-scan at the
x30 document replica (SCALING.md r10 — recorded as a wall WASH; the
value is the 19.5x set-semantics key collapse + the committed-epoch
serving contract). Run on an idle host, no concurrent Spark."""
import json
import os
import sys
import time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from gomaxscale_spark.session import get_session
from gomaxscale_spark.operators import dedup as D
from gomaxscale_spark.streaming.sinks import SubstringKeyLakeSink
import shutil


def main() -> None:
    spark = get_session("lake_ab")
    docs = spark.read.parquet("/tmp/scaled_x30_docs/documents.parquet")
    probes = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .selectExpr("doc_id + 100000000 as doc_id", "text").limit(50)
    probes = spark.createDataFrame(probes.collect(), "doc_id long, text string")  # pin tiny probe set

    shutil.rmtree("/tmp/sslake_ab", ignore_errors=True)
    sink = SubstringKeyLakeSink("/tmp/sslake_ab", window=8)
    t0 = time.perf_counter()
    sink.apply_batch(docs, 0)
    ingest = round(time.perf_counter() - t0, 2)

    # warm
    sink.probe_coverage(probes).count()
    t0 = time.perf_counter()
    r1 = sink.probe_coverage(probes).count()
    probe_wall = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    r2 = D.incremental_substring_coverage(probes, docs, "doc_id", "text", window=8).count()
    raw_wall = round(time.perf_counter() - t0, 2)
    print(json.dumps({"ingest_s": ingest, "lake_probe_s": probe_wall,
                      "raw_incremental_s": raw_wall, "rows": [r1, r2]}))
    spark.stop()


if __name__ == "__main__":
    main()
