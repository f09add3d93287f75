"""Focused equivalence tests for the r17 optimization round's internal
rewrites — each forces BOTH execution paths of a runtime-size-dispatched
operator (driver-small fast path vs the distributed loop) and pins that
they produce identical rows, the same contract style as r16's
forced-both-paths connected-components test.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from gomaxscale_spark.operators import preference as PF
from gomaxscale_spark.operators import text as TX


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_bradley_terry_driver_matches_distributed(spark, sf_dir, monkeypatch):
    """bradley_terry's driver-small numpy MM path (r17) must produce
    exactly the distributed unrolled-fixpoint loop's (item, strength,
    rank) rows — 6dp-rounded strengths and all — on the gate corpus."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("pair_id"),
        F.col("source").alias("item_a"),
        F.col("n_chars").alias("__ca"),
    )
    b = d.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") - 1).alias("pair_id"),
        F.col("source").alias("item_b"),
        F.col("n_chars").alias("__cb"),
    )
    cmp_ = a.join(b, "pair_id").select(
        "item_a",
        "item_b",
        F.when(F.col("__ca") > F.col("__cb"), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("winner"),
    )
    m = PF.pairwise_matrix(cmp_, "item_a", "item_b", "winner")
    monkeypatch.setenv("SPARK_GRAFT_BT_SMALL_MATRIX", "0")
    dist = _rows(PF.bradley_terry(m, n_iters=8))
    monkeypatch.setenv("SPARK_GRAFT_BT_SMALL_MATRIX", str(1 << 17))
    drv = _rows(PF.bradley_terry(m, n_iters=8))
    assert len(dist) > 0
    assert dist == drv


def test_bradley_terry_driver_empty_matrix(spark, monkeypatch):
    """The driver path must survive an empty win matrix (no rows) the
    same way the distributed path does: empty output, no crash."""
    m = spark.createDataFrame(
        [],
        "item_a string, item_b string, wins_a long, wins_b long, n_games long",
    )
    monkeypatch.setenv("SPARK_GRAFT_BT_SMALL_MATRIX", str(1 << 17))
    assert PF.bradley_terry(m, n_iters=3).collect() == []


@pytest.mark.parametrize("apply_last", [False, True])
def test_bpe_rounds_driver_matches_distributed(
    spark, sf_dir, monkeypatch, apply_last
):
    """_bpe_rounds' driver-small Python loop (r17) must reproduce the
    distributed loop bit-for-bit: the same merge rows AND the same
    per-round vocabulary states (exact integer counts, exact strings —
    no float anywhere, so equality is strict)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)

    def run():
        vocab = TX._bpe_vocab(d, "text").persist()
        try:
            rounds, states = TX._bpe_rounds(vocab, 4, apply_last=apply_last)
            state_rows = [
                sorted(map(tuple, s.select("w", "wc", "toks").collect()))
                for s in states
            ]
            return rounds, state_rows
        finally:
            for s in states:
                s.unpersist()

    monkeypatch.setenv("SPARK_GRAFT_BPE_SMALL_VOCAB", "0")
    dist_rounds, dist_states = run()
    monkeypatch.setenv("SPARK_GRAFT_BPE_SMALL_VOCAB", str(1 << 16))
    drv_rounds, drv_states = run()
    assert len(dist_rounds) > 0
    assert dist_rounds == drv_rounds
    assert len(dist_states) == len(drv_states)
    for ds, vs in zip(dist_states, drv_states):
        assert ds == vs


def test_r17_single_scan_steady_state(spark, sf_dir):
    """The r17 multi-scan eliminations (found by the FIXED plan_sweep
    scan counter — the r16 regex matched nothing in Spark 4 formatted
    mode): every rewritten cell's final job must read raw parquet at
    most the expected number of times; the eliminated passes now read
    materialized artifacts (or, for pack_efficiency, one explode pass
    replaces the per-budget unionAll re-derivations)."""
    from gomaxscale_spark.plans import all_queries

    q = all_queries()
    expected = {
        "text_tfidf": 1,  # tf artifact; remaining scan = 1-row N count
        "search_bm25_topk": 0,  # all four legs off the (id, toks) artifact
        "decontaminate_bloom_prefilter": 1,  # corpus side; bench gh shared
        "corpus_pack_efficiency": 1,  # one cumsum pass for all budgets
        "text_vocab_coverage": 0,  # vocab + OOV legs off the artifact
        "sampling_soft_dedup_weights": 0,  # chunk stream materialized
        "dedup_cross_source_matrix": 0,  # digest-source set materialized
        "dedup_embedding_lsh_scaled": 0,  # (vid, vec) frame materialized
        "dedup_semantic_cluster": 0,  # assignment frame materialized
        "decontaminate_incremental_delta": 1,  # bench side; delta materialized
    }
    for name, n_scans in expected.items():
        plan = (
            q[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        got = plan.count("Scan parquet")
        assert got <= n_scans, (name, got, n_scans, plan[:1500])


def test_pack_efficiency_single_pass_matches_union_form(spark, sf_dir):
    """pack_efficiency's one-pass explode (r17) must emit exactly the
    rows of the per-budget unionAll form it replaced."""
    from pyspark.sql import Window as W

    from gomaxscale_spark.operators.sampling import pack_efficiency

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budgets = (128, 256, 512)
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.lit("seed13")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("__h")
    )
    base = d.select(
        F.col("doc_id"),
        h,
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
        .cast("long")
        .alias("n_tokens"),
    ).withColumn("shard", F.col("__h") % F.lit(8))
    w = W.partitionBy("shard").orderBy(F.col("__h"), F.col("doc_id"))
    frame = base.select(
        "shard",
        "n_tokens",
        F.coalesce(
            F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__before"),
    )
    arms = None
    for b in budgets:
        arm = frame.select(
            F.lit(b).cast("long").alias("budget"),
            "shard",
            "n_tokens",
            ((F.col("__before") % F.lit(b)) + F.col("n_tokens") > F.lit(b))
            .cast("long")
            .alias("__spans"),
        )
        arms = arm if arms is None else arms.unionAll(arm)
    per_shard = arms.groupBy("budget", "shard").agg(
        F.sum("n_tokens").alias("__tok"), F.sum("__spans").alias("__spans")
    )
    n_seq = F.expr("(__tok + budget - 1) div budget")
    union_form = (
        per_shard.groupBy("budget")
        .agg(
            F.sum(n_seq).cast("long").alias("n_sequences"),
            F.sum("__spans").cast("long").alias("n_docs_spanning"),
            F.sum("__tok").cast("long").alias("tokens_total"),
        )
        .select(
            "budget",
            "n_sequences",
            "n_docs_spanning",
            "tokens_total",
            F.round(
                F.col("tokens_total").cast("double")
                / (F.col("n_sequences") * F.col("budget")),
                6,
            ).alias("utilization"),
        )
    )
    a = _rows(union_form)
    b = _rows(pack_efficiency(d, "doc_id", "text", budgets=budgets))
    assert len(a) == len(budgets)
    assert a == b


def test_minhash_verified_pairs_rejects_hashless_artifact(spark, sf_dir):
    """r16 ADVICE: injecting an artifact without the ``__th60`` hashes
    must fail fast with a pointed message, not an unresolved-column
    AnalysisException deep inside the signature pipeline."""
    from gomaxscale_spark.operators import dedup as D

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    tokd = D.tokenized_corpus_artifact(d, "doc_id", "text").drop("__th60")
    with pytest.raises(ValueError, match="__th60"):
        D.minhash_verified_pairs(
            d, "doc_id", "text", threshold=0.8, tokd=tokd
        )
