#!/usr/bin/env python
"""Interleaved same-session A/B of the r17 multi-scan rewrites: OLD form
(inline copy of the pre-change expression shape) vs NEW (repo
operator), alternating per round so host drift hits both. Prints
per-cell medians. Usage: python tools/ab_r17_multiscan.py <sf_dir> [rounds]"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gomaxscale_spark.session import get_session
from gomaxscale_spark.operators import search as SE
from gomaxscale_spark.operators import similarity as S
from gomaxscale_spark.operators import text as TX
from gomaxscale_spark.operators import dedup as D
from gomaxscale_spark.operators import sampling as SA
from gomaxscale_spark.operators.similarity import (
    hyperplanes, norm, dot, adaptive_pow2_case_sql,
)
from gomaxscale_spark.operators.search import _words, _score_chain
from gomaxscale_spark.operators.dedup import word_shingles
from gomaxscale_spark.operators.text import (
    bloom_build, _gram_hash60, _bloom_positions, BLOOM_WORD_BITS, chunk_windows,
)
from gomaxscale_spark.operators.dedup import tokenize
from gomaxscale_spark.operators.bucketing import parallelize_narrow_input

TERMS = ("spark", "window", "hash")
# set by main(): the session and the two tables every old/new form reads
spark = docs = emb = None


def noop(df):
    df.write.format("noop").mode("overwrite").save()


# ---------------- old inline twins ----------------

def old_bm25_topk():
    toks = docs.select(F.col("doc_id"), F.explode(_words(F.col("text"))).alias("__w"))
    df_aggs = [
        F.count_distinct(F.when(F.col("__w") == F.lit(t), F.col("doc_id"))).alias(f"__df{i}")
        for i, t in enumerate(TERMS)
    ]
    stats = toks.agg(*df_aggs).crossJoin(
        docs.agg(F.count(F.lit(1)).cast("double").alias("__n"),
                 F.avg(F.size(_words(F.col("text")))).alias("__avgdl")))
    tf_aggs = [
        F.sum(F.when(F.col("__w") == F.lit(t), 1).otherwise(0)).cast("double").alias(f"__tf{i}")
        for i, t in enumerate(TERMS)
    ]
    lengths = docs.select(F.col("doc_id"), F.size(_words(F.col("text"))).cast("double").alias("__dl"))
    tf = (toks.filter(F.col("__w").isin(list(TERMS))).groupBy("doc_id").agg(*tf_aggs)
          .join(lengths, "doc_id").crossJoin(F.broadcast(stats)))
    scored = tf.select(F.col("doc_id"), F.round(_score_chain(len(TERMS)), 6).alias("score"))
    return scored.orderBy(F.desc("score"), F.col("doc_id")).limit(15)


def new_bm25_topk():
    return SE.bm25_topk(docs, TERMS, k=15)


def old_bloom():
    d = docs.withColumn("bucket", SA.hash_bucket(F.col("doc_id")))
    bench = d.filter(F.col("bucket") < 5)
    corpus = d.filter(F.col("bucket") >= 5)
    bloom = bloom_build(bench, "text", 4)
    bench_gh = (bench.select(F.explode(word_shingles(F.col("text"), 4)).alias("g"))
                .select(_gram_hash60(F.col("g")).alias("gh")).distinct()
                .withColumn("__e", F.lit(1)))
    doc_gh = (parallelize_narrow_input(corpus.select("doc_id", "text"))
              .select(F.col("doc_id"), F.explode(word_shingles(F.col("text"), 4)).alias("g"))
              .select(F.col("doc_id"), _gram_hash60(F.col("g")).alias("gh")).distinct())
    probes = doc_gh.select(
        F.col("doc_id"), "gh",
        F.explode(F.array(*_bloom_positions(F.col("gh")))).alias("pos"),
    ).select(F.col("doc_id"), "gh",
             F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word"),
             F.expr(f"shiftleft(1L, cast(pos % {BLOOM_WORD_BITS} as int))").alias("mask"))
    gram_hit = (probes.join(F.broadcast(bloom), "word", "left")
                .select(F.col("doc_id"), "gh",
                        F.coalesce(F.col("bits").bitwiseAND(F.col("mask")) != 0, F.lit(False)).alias("hit_j"))
                .groupBy("doc_id", "gh").agg(F.expr("bool_and(hit_j)").alias("bloom_hit")))
    per_gram = gram_hit.join(F.broadcast(bench_gh), "gh", "left")
    return (per_gram.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("total_ngrams"),
                 F.sum(F.when(F.col("__e").isNotNull(), 1).otherwise(0)).cast("long").alias("exact_hits"),
                 F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0)).cast("long").alias("bloom_hits"))
            .filter(F.col("bloom_hits") > 0))


def new_bloom():
    d = docs.withColumn("bucket", SA.hash_bucket(F.col("doc_id")))
    return TX.bloom_decontaminate(d.filter(F.col("bucket") >= 5), d.filter(F.col("bucket") < 5), "doc_id", "text", n=4)


def old_soft_dedup():
    ch = chunk_windows(docs, "doc_id", "text", chunk_size=64, stride=48)
    g = ch.groupBy("chunk_hash").agg(F.count_distinct(F.col("doc_id")).alias("__nd"))
    per_doc = (ch.select("doc_id", "chunk_hash").join(g, "chunk_hash").groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum((F.col("__nd") > 1).cast("long")).alias("n_shared")))
    return (per_doc.select("doc_id",
                           F.col("n_chunks").cast("long").alias("n_chunks"),
                           F.col("n_shared").cast("long").alias("n_shared"),
                           F.round(F.col("n_shared").cast("double") / F.col("n_chunks"), 6).alias("dup_frac"))
            .withColumn("weight", F.round(F.lit(1.0) / (F.lit(1.0) + F.col("dup_frac")), 6)))


def new_soft_dedup():
    return D.soft_dedup_weights(docs, "doc_id", "text")


def old_vocab_coverage():
    toks = docs.select(F.col("doc_id"), F.explode(tokenize(F.col("text"))).alias("tok"))
    vocab = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__c"))
             .orderBy(F.desc("__c"), F.asc("tok")).limit(500)
             .select("tok", F.lit(1).alias("__in_vocab")))
    return (toks.join(F.broadcast(vocab), "tok", "left").groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"))
            .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("n_oov").cast("long").alias("n_oov"),
                    F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias("oov_rate")))


def new_vocab_coverage():
    return TX.vocab_coverage(docs, "doc_id", "text", vocab_size=500)


def old_pack_eff():
    from pyspark.sql import Window as W
    budgets = (128, 256, 512)
    h = (F.conv(F.substring(F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit("seed13"))), 1, 15), 16, 10)
         .cast("long").alias("__h"))
    base = docs.select(F.col("doc_id"), h,
                       F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")).cast("long").alias("n_tokens")
                       ).withColumn("shard", F.col("__h") % F.lit(8))
    w = W.partitionBy("shard").orderBy(F.col("__h"), F.col("doc_id"))
    frame = base.select("shard", "n_tokens",
                        F.coalesce(F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)).alias("__before"))
    arms = None
    for b in budgets:
        arm = frame.select(F.lit(b).cast("long").alias("budget"), "shard", "n_tokens",
                           ((F.col("__before") % F.lit(b)) + F.col("n_tokens") > F.lit(b)).cast("long").alias("__spans"))
        arms = arm if arms is None else arms.unionAll(arm)
    per_shard = arms.groupBy("budget", "shard").agg(F.sum("n_tokens").alias("__tok"), F.sum("__spans").alias("__spans"))
    n_seq = F.expr("(__tok + budget - 1) div budget")
    return (per_shard.groupBy("budget")
            .agg(F.sum(n_seq).cast("long").alias("n_sequences"),
                 F.sum("__spans").cast("long").alias("n_docs_spanning"),
                 F.sum("__tok").cast("long").alias("tokens_total"))
            .select("budget", "n_sequences", "n_docs_spanning", "tokens_total",
                    F.round(F.col("tokens_total").cast("double") / (F.col("n_sequences") * F.col("budget")), 6).alias("utilization")))


def new_pack_eff():
    return SA.pack_efficiency(docs, "doc_id", "text", budgets=(128, 256, 512))


def old_lsh_adaptive():
    from gomaxscale_spark.operators import vector_kernel as VK
    threshold, dim, planes_per_band, n_bands, target_bucket = 0.3, 64, 16, 4, 64
    all_planes = hyperplanes(dim, n_bands * planes_per_band, 42)
    with_norm = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"),
                           norm(F.col("embedding")).alias("nrm"))
    nn = emb.agg(F.count(F.lit(1)).alias("__n"))
    sigk = VK.sign_band_signatures(all_planes, planes_per_band, n_bands)
    sig_src = with_norm.select("vid", sigk(F.col("vec")).alias("__s")).select(
        "vid", *[F.col(f"__s.s{b}").alias(f"s{b}") for b in range(n_bands)])
    sigs = sig_src.crossJoin(F.broadcast(nn)).withColumn(
        "__p2", F.expr(adaptive_pow2_case_sql("__n", target_bucket=target_bucket)))
    stacked = sigs.select("vid", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), (F.col(f"s{b}") % F.col("__p2")).alias("bucket"))
        for b in range(n_bands)])).alias("bs")).select("vid", "bs.band", "bs.bucket")
    cand = (stacked.groupBy("band", "bucket").agg(F.array_sort(F.collect_list("vid")).alias("ids"))
            .filter(F.size("ids") >= 2)
            .select(F.explode(F.flatten(F.transform(F.col("ids"), lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))).alias("p"))
            .select("p.id_a", "p.id_b").distinct())
    va = with_norm.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("norm_a"))
    vb = with_norm.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("norm_b"))
    raw = dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("__score", F.round(raw, 6)).filter(F.col("__score") >= threshold)
            .select("id_a", "id_b", F.col("__score").alias("score")))


def new_lsh_adaptive():
    return S.lsh_near_duplicates_adaptive(emb, threshold=0.3, dim=64)


def old_cross_source():
    h = docs.select(F.md5(F.col("text")).alias("th"), "source").distinct()
    a = h.select(F.col("th"), F.col("source").alias("source_a"))
    b = h.select(F.col("th"), F.col("source").alias("source_b"))
    return (a.join(b, "th").filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b").agg(F.count(F.lit(1)).alias("shared_texts")))


def new_cross_source():
    from gomaxscale_spark.operators.materialize import materialize_once
    h = materialize_once(docs.select(F.md5(F.col("text")).alias("th"), "source").distinct())
    a = h.select(F.col("th"), F.col("source").alias("source_a"))
    b = h.select(F.col("th"), F.col("source").alias("source_b"))
    return (a.join(b, "th").filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b").agg(F.count(F.lit(1)).alias("shared_texts")))


PAIRS = [
    ("bm25_topk", old_bm25_topk, new_bm25_topk),
    ("bloom_prefilter", old_bloom, new_bloom),
    ("soft_dedup", old_soft_dedup, new_soft_dedup),
    ("vocab_coverage", old_vocab_coverage, new_vocab_coverage),
    ("pack_efficiency", old_pack_eff, new_pack_eff),
    ("lsh_adaptive", old_lsh_adaptive, new_lsh_adaptive),
    ("cross_source", old_cross_source, new_cross_source),
]

def main() -> None:
    global spark, docs, emb
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_session("ab_r17", cpus=32)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")

    # warm
    noop(docs.select("doc_id").limit(10))

    results = {name: {"old": [], "new": []} for name, _, _ in PAIRS}
    for rnd in range(rounds):
        for name, old_fn, new_fn in PAIRS:
            t0 = time.perf_counter(); noop(old_fn()); results[name]["old"].append(time.perf_counter() - t0)
            t0 = time.perf_counter(); noop(new_fn()); results[name]["new"].append(time.perf_counter() - t0)

    print(f"\n== {sf} rounds={rounds} ==")
    for name in results:
        o = results[name]["old"]; n = results[name]["new"]
        print(f"{name:18s} old med {statistics.median(o):6.2f} (min {min(o):5.2f})  "
              f"new med {statistics.median(n):6.2f} (min {min(n):5.2f})")
    spark.stop()


if __name__ == "__main__":
    main()
