#!/usr/bin/env python
"""A/B: IVFIndex.probe_adc_batch vs sequential probe_adc, 16 queries on
the x100 IVF-PQ index (SCALING.md r10: 3.53 s vs 22.16 s — 6.3x).
Rebuilds the trained codebooks with the same deterministic recipe the
PQ scale study used (`git show b8116fd:tools/scale_pq.py`). Run on an idle host, no concurrent Spark."""
import json
import os
import sys
import time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from gomaxscale_spark.session import get_session
from gomaxscale_spark.operators import pq as PQ
from gomaxscale_spark.operators.ivf_index import IVFIndex
from pyspark.sql import functions as F


def main() -> None:
    spark = get_session("adc_batch_ab")
    emb = spark.read.parquet("/tmp/scaled_x100_emb/embeddings.parquet")
    books = PQ.train_pq_codebooks(emb, n_iters=3)  # same deterministic recipe as the study
    idx = IVFIndex("/tmp/ivfpq_scaled_x100_emb", codebooks=books)

    qrows = emb.orderBy("vec_id").limit(16).collect()
    qdf = spark.createDataFrame(
        [(r.vec_id, list(r.embedding)) for r in qrows],
        "query_id long, embedding array<float>")

    # warm both paths
    idx.probe_adc(spark, [float(x) for x in qrows[0].embedding], k=10, n_probe=4).count()
    idx.probe_adc_batch(qdf, k=10, n_probe=4).count()

    t0 = time.perf_counter()
    n_b = idx.probe_adc_batch(qdf, k=10, n_probe=4).count()
    batch_s = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    n_s = 0
    for r in qrows:
        n_s += idx.probe_adc(spark, [float(x) for x in r.embedding], k=10, n_probe=4).count()
    seq_s = round(time.perf_counter() - t0, 2)
    print(json.dumps({"queries": 16, "batch_s": batch_s, "sequential_s": seq_s,
                      "rows": [n_b, n_s], "speedup": round(seq_s / batch_s, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
