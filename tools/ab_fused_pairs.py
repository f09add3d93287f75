#!/usr/bin/env python
"""Interleaved same-session A/B: split candidates→verify composition
(old, raw text per stage) vs the fused shared-artifact form (new,
minhash_verified_pairs) — alternating forms per round so host drift
hits both equally. Times FULL construction + noop materialize (the
cost a bench cell pays).

Usage: python tools/ab_fused_pairs.py [rounds] [which ...]
which ∈ {pairs, capped_audit, cc} (default: all)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gomaxscale_spark.operators import dedup as D
from gomaxscale_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    which = sys.argv[2:] or ["pairs", "capped_audit", "cc"]
    spark = get_session("ab_fused_pairs")
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def old_pairs(cap=None):
        cands = D.minhash_lsh_candidates(
            d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=2,
            max_bucket_size=cap,
        )
        return D.verify_candidates_jaccard(
            d, cands, "doc_id", "text", threshold=0.8, shingle_n=2
        )

    def new_pairs(cap=None):
        return D.minhash_verified_pairs(
            d, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16,
            shingle_n=2, max_bucket_size=cap,
        )

    def audit_tail(pairs):
        from gomaxscale_spark.operators.sampling import hash_bucket

        def split_of(c):
            b = hash_bucket(c)
            return (
                F.when(b < 80, F.lit("train"))
                .when(b < 90, F.lit("val"))
                .otherwise(F.lit("test"))
            )

        sa, sb = split_of(F.col("id_a")), split_of(F.col("id_b"))
        return (
            pairs.select(
                F.least(sa, sb).alias("lo"),
                F.greatest(sa, sb).alias("hi"),
                F.col("jaccard"),
            )
            .groupBy("lo", "hi")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.max("jaccard"), 6).alias("j"))
        )

    def old_prefix():
        cands = D.prefix_filter_candidates(
            d, "doc_id", "text", threshold=0.7, shingle_n=2
        )
        return D.verify_candidates_jaccard(
            d, cands, "doc_id", "text", threshold=0.7, shingle_n=2
        )

    def new_prefix():
        from gomaxscale_spark.operators.materialize import materialize_once

        tokd = D.tokenized_corpus_artifact(d, "doc_id", "text")
        rows = materialize_once(
            D.shingle_hash_rows_from_tokens(tokd, "doc_id", "__toks", 2)
        )
        cands = D.prefix_filter_candidates(
            d, "doc_id", "text", threshold=0.7, shingle_n=2, rows=rows
        )
        return D.verify_candidates_jaccard_from_tokens(
            tokd, cands, "doc_id", "__toks", threshold=0.7, shingle_n=2
        )

    cases = {
        "pairs": (lambda: old_pairs(None), lambda: new_pairs(None)),
        "prefix": (old_prefix, new_prefix),
        "capped_audit": (
            lambda: audit_tail(old_pairs(2)),
            lambda: audit_tail(new_pairs(2)),
        ),
        "cc": (
            lambda: D.connected_components_star(old_pairs(None)),
            lambda: D.connected_components_star(new_pairs(None)),
        ),
    }
    for name in which:
        olds, news = [], []
        fo, fn_ = cases[name]
        for r in range(rounds):
            for label, fn, acc in (("old", fo, olds), ("new", fn_, news)):
                spark.sparkContext.setJobDescription(f"{name} {label} r{r}")
                t0 = time.time()
                noop(fn())
                acc.append(time.time() - t0)
        print(
            f"{name}: old={['%.2f' % x for x in olds]} new={['%.2f' % x for x in news]}"
            f"  best old={min(olds):.2f} new={min(news):.2f}"
            f"  median old={sorted(olds)[len(olds)//2]:.2f}"
            f" new={sorted(news)[len(news)//2]:.2f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
