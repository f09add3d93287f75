#!/usr/bin/env python
"""A/B the r13 shared-tokenized-frame release_report against the r12
per-leg re-tokenizing form (VERDICT r12 item 4) — same session,
interleaved best-of-N, results asserted identical.

The OLD form is reconstructed inline from the r12 code (each leg
tokenizes the raw documents scan itself: word_shingles on text,
incremental_substring_coverage on text, dsir_token_buckets on text).
The NEW form is the live catalog entry.

Usage: python tools/ab_release_scans.py [sf_dir] [n_runs] [--check]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F

from gomaxscale_spark.operators import dedup as D
from gomaxscale_spark.operators.materialize import materialize_once
from gomaxscale_spark.operators.sampling import (
    dsir_score_against_lm,
    dsir_token_buckets,
)
from gomaxscale_spark.plans import all_queries
from gomaxscale_spark.plans.base import t
from gomaxscale_spark.session import get_session


def old_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 form: each leg re-tokenizes the raw documents scan."""
    d = t(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    pg = probes.select(
        F.col("doc_id"), F.explode(D.word_shingles(F.col("text"), 4)).alias("g")
    )
    probe_gram_set = pg.select("g").distinct()
    hits_set = (
        corpus.select(F.explode(D.word_shingles(F.col("text"), 4)).alias("g"))
        .join(F.broadcast(probe_gram_set), "g", "semi")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ngram_sig = (
        pg.join(F.broadcast(hits_set), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("evidence")
        )
        .select("doc_id", F.lit("ngram_overlap").alias("method"), "evidence")
    )
    span_sig = D.incremental_substring_coverage(
        probes, corpus, "doc_id", "text", window=8
    ).select(
        "doc_id",
        F.lit("span_coverage").alias("method"),
        F.col("lake_coverage").alias("evidence"),
    )
    cands = D.minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=2
    )
    pairs = D.verify_candidates_jaccard(
        d, cands, "doc_id", "text", threshold=0.8, shingle_n=2
    )
    cross = pairs.filter(
        (F.col("id_a") % 10 == 0) != (F.col("id_b") % 10 == 0)
    ).select(
        F.when(F.col("id_a") % 10 == 0, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("doc_id"),
        "jaccard",
    )
    jac_sig = (
        cross.groupBy("doc_id")
        .agg(F.round(F.max("jaccard"), 6).alias("evidence"))
        .select("doc_id", F.lit("near_dup_jaccard").alias("method"), "evidence")
    )
    signals = ngram_sig.unionByName(span_sig).unionByName(jac_sig)
    scaffold = probes.select("doc_id").crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [("ngram_overlap",), ("span_coverage",), ("near_dup_jaccard",)],
                "method string",
            )
        )
    )
    return scaffold.join(signals, ["doc_id", "method"], "left").select(
        "doc_id", "method", F.coalesce("evidence", F.lit(0.0)).alias("evidence")
    )


def old_release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = old_contamination_report(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    rows = dsir_token_buckets(
        corpus.withColumn("__t", (F.col("lang") == "en").cast("long")),
        "doc_id",
        "text",
        4096,
        carry=("__t",),
    )
    bstats = materialize_once(
        rows.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("rc"), F.sum("__t").alias("tc")
        )
    )
    method = "dsir_logweight_per_token"
    lm_sig = dsir_score_against_lm(probes, bstats, "doc_id", "text", 4096).select(
        "doc_id",
        F.lit(method).alias("method"),
        F.round(
            F.col("weight_micro") / 1e6 / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("evidence"),
    )
    scaffold = probes.select("doc_id").withColumn("method", F.lit(method))
    lm_full = scaffold.join(lm_sig, ["doc_id", "method"], "left").select(
        "doc_id", "method", F.coalesce("evidence", F.lit(0.0)).alias("evidence")
    )
    return base.unionByName(lm_full)


def mat(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    check = "--check" in sys.argv
    spark = get_session("ab_release_scans")
    new_fn = all_queries()["release_report"].fn

    mat(all_queries()["scan_filter_project"].fn(spark, sf_dir))  # warm

    if check:
        old_df = old_release_report(spark, sf_dir)
        new_df = new_fn(spark, sf_dir)
        assert old_df.exceptAll(new_df).count() == 0
        assert new_df.exceptAll(old_df).count() == 0
        print("results IDENTICAL (exceptAll both directions empty)")

    olds, news = [], []
    for _ in range(n_runs):
        s = time.perf_counter()
        mat(old_release_report(spark, sf_dir))
        olds.append(time.perf_counter() - s)
        s = time.perf_counter()
        mat(new_fn(spark, sf_dir))
        news.append(time.perf_counter() - s)
    print(f"sf_dir={sf_dir}")
    print(f"old (per-leg re-tokenize): min {min(olds):.2f}s  runs {[round(r, 2) for r in olds]}")
    print(f"new (shared tokenized frame): min {min(news):.2f}s  runs {[round(r, 2) for r in news]}")
    print(f"ratio new/old: x{min(news) / min(olds):.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
