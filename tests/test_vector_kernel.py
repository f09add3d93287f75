"""The Arrow-batched numpy cosine kernels (operators/vector_kernel.py):
score parity with the interpreted HOF fold on the real tables, the
zero-norm contract against the DuckDB replay, the input-contract
guards, and the serving-read safety the kernels ride with
(committed-epoch filtering in the embedding lake's topk/read_kept,
first-time swap_publish).

Parity here is EXACT collected-row equality after the operators' own
6dp rounding — the same bar the DuckDB oracle gate applies. The
operators built on the kernels have no HOF twin; the oracle replay
checks their outputs at both scales.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from gomaxscale_spark.catalog import load_table
from gomaxscale_spark.operators import similarity as S
from gomaxscale_spark.operators import vector_kernel as VK


def _query_vec(emb):
    return [float(x) for x in emb.orderBy("vec_id").limit(1).head().embedding]


def test_cosine_pairs_matches_hof_fold(spark, sf_dir):
    """Pairwise kernel ≡ HOF cosine at 6dp on real within-label pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("label"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
    )
    b = emb.select(
        F.col("label"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b")
    )
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b")).limit(500)
    got = pairs.select(
        "id_a",
        "id_b",
        F.round(S.cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("hof"),
        F.round(VK.cosine_pairs(F.col("vec_a"), F.col("vec_b")), 6).alias("np"),
    ).collect()
    assert got, "fixture must produce pairs"
    assert all(r.hof == r.np for r in got)


def test_cosine_vs_query_matches_hof(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(emb)
    got = emb.select(
        F.round(S.cosine(F.col("embedding"), S.lit_vec(q)), 6).alias("hof"),
        F.round(VK.cosine_vs_query(q)(F.col("embedding")), 6).alias("np"),
    ).collect()
    assert all(r.hof == r.np for r in got)


def test_assign_nearest_input_contract():
    with pytest.raises(ValueError, match="ascending"):
        VK.assign_nearest([3, 1, 2], np.eye(3))
    with pytest.raises(ValueError, match="empty centroid set"):
        VK.assign_nearest([], np.empty((0, 4)))
    with pytest.raises(ValueError, match="shape"):
        VK.assign_nearest([1, 2], np.eye(3))


def test_chunked_argmax_large_k_matches_unchunked():
    """VERDICT r9 item 1: the assignment kernel iterates centroid
    blocks with a running argmax, bounding peak memory at
    O(batch × ASSIGN_BLOCK) instead of O(batch × k). Bit-identity
    with the unchunked ``np.argmax`` at k ≥ 2¹⁴ (17 ragged blocks),
    including NaN rows (zero-norm vectors: numpy argmax = FIRST NaN
    index) and exact-duplicate centroids straddling block boundaries
    (first occurrence wins)."""
    rng = np.random.default_rng(7)
    k, dim, n = (1 << 14) + 37, 16, 256
    M = rng.normal(size=(k, dim))
    # exact cross-block ties: centroid 5 duplicated far into later blocks
    for j in (VK.ASSIGN_BLOCK + 11, 5 * VK.ASSIGN_BLOCK + 3, k - 1):
        M[j] = M[5]
    A = rng.normal(size=(n, dim))
    A[:32] = M[5]            # rows whose best score ties across blocks
    A[40:44] = 0.0           # zero-norm rows → all-NaN score rows
    An = np.sqrt(np.einsum("ij,ij->i", A, A))
    Mn = np.sqrt(np.einsum("ij,ij->i", M, M))
    with np.errstate(divide="ignore", invalid="ignore"):
        ref = np.argmax((A @ M.T) / (An[:, None] * Mn[None, :]), axis=1)
    got, got_s = VK._argmax_cosine(A, An, M, Mn)
    assert np.array_equal(got, ref)
    assert (got[:32] == 5).all()     # tie → lowest index, across blocks
    assert (got[40:44] == 0).all()   # all-NaN row → first index


def test_chunked_argmax_nan_first_occurrence_across_blocks(monkeypatch):
    """A NaN COLUMN (zero-norm centroid) in a later block must win over
    any finite best from earlier blocks, and the first NaN wins among
    several — numpy-argmax semantics reproduced block-by-block."""
    monkeypatch.setattr(VK, "ASSIGN_BLOCK", 4)
    rng = np.random.default_rng(11)
    M = rng.normal(size=(13, 8))
    M[6] = 0.0   # NaN column in block 2
    M[9] = 0.0   # second NaN column, block 3 — must NOT displace idx 6
    A = rng.normal(size=(50, 8))
    An = np.sqrt(np.einsum("ij,ij->i", A, A))
    Mn = np.sqrt(np.einsum("ij,ij->i", M, M))
    with np.errstate(divide="ignore", invalid="ignore"):
        ref = np.argmax((A @ M.T) / (An[:, None] * Mn[None, :]), axis=1)
    got, got_s = VK._argmax_cosine(A, An, M, Mn)
    assert np.array_equal(got, ref)
    assert (got == 6).all()


def test_wide_sigs_column_contract(spark, sf_dir):
    """ADVICE r8: a wide_sigs frame missing the s0..s{n_bands-1}
    columns must fail loudly, not silently mis-bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    bad = emb.select("vec_id", F.lit(0).alias("s0"))  # missing s1..s3
    with pytest.raises(ValueError, match="wide_sigs is missing"):
        S.lsh_near_duplicates_adaptive(emb, 0.3, 64, wide_sigs=bad)


def test_lsh_near_duplicates_adaptive_zero_norm_matches_oracle(spark):
    """A zero-norm vector scores 0/0 against anything. The verify
    drops such pairs (the kernel's NaN reaches Spark as NULL) exactly
    as the DuckDB replay does (0/0 is NULL there), instead of raising
    ANSI DIVIDE_BY_ZERO; the keep-representatives composition then
    keeps both zero vectors."""
    import duckdb

    from gomaxscale_spark.operators import dedup as D
    from gomaxscale_spark.plans import all_queries
    from gomaxscale_spark.plans.llm import _embedding_lsh_adaptive_oracle

    unit = [1.0] + [0.0] * 63
    rows = [
        (0, [0.0] * 64, 0),
        (1, [0.0] * 64, 0),
        (2, unit, 1),
        (3, unit, 1),
        (4, [0.0, 1.0] + [0.0] * 62, 2),  # orthogonal to the unit pair
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)

    pairs = S.lsh_near_duplicates_adaptive(emb, 0.3, 64)
    got = sorted(map(tuple, pairs.collect()))
    assert got == [(2, 3, 1.0)]
    assert got == sorted(con.execute(_embedding_lsh_adaptive_oracle(0.3)).fetchall())

    # dedup_embedding_keep_representatives' composition over the same rows
    clusters = D.connected_components_star(pairs)
    drop = clusters.filter(F.col("cluster_id") != F.col("id")).select("id")
    kept = emb.join(F.broadcast(drop), F.col("vec_id") == F.col("id"), "left_anti")
    kept_ids = sorted(r.vec_id for r in kept.collect())
    assert kept_ids == [0, 1, 2, 4]
    oracle = all_queries()["dedup_embedding_keep_representatives"].oracle
    assert kept_ids == sorted(r[0] for r in con.execute(oracle).fetchall())


def test_cosine_zero_norm_matches_oracle(spark):
    """The interpreted fold's 0/0 is NULL, as in DuckDB, instead of an
    ANSI DIVIDE_BY_ZERO: a unit and a zero vector through
    ``cosine_topk`` (the query vector is vec_id 0, either one) and
    through the blocked and LSH pair verifies."""
    import duckdb

    from gomaxscale_spark.plans import all_queries

    queries = all_queries()
    unit, zero = [1.0] + [0.0] * 63, [0.0] * 64
    for rows in ([(0, unit, 0), (1, zero, 0)], [(0, zero, 0), (1, unit, 0)]):
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
        con = duckdb.connect()
        con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
        con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)

        def oracle(name):
            return con.execute(queries[name].oracle).fetchall()

        got = [tuple(r) for r in S.cosine_topk(emb, rows[0][1], k=10).collect()]
        assert got == oracle("similarity_cosine_topk")
        assert got[1] == (1, None)
        assert S.pairwise_near_duplicates(emb, 0.3, block_col="label").collect() == []
        assert oracle("dedup_embedding_cosine") == []
        assert S.lsh_near_duplicates(emb, 0.3, dim=64).collect() == []
        assert oracle("dedup_embedding_lsh") == []


def test_embedding_sink_serving_reads_skip_partial_epochs(spark, sf_dir, tmp_path):
    """VERDICT r8 item 4: a fault-injected partial epoch is invisible
    to topk()/read_kept before the retry; after the retry it appears."""
    from gomaxscale_spark.streaming.embedding_index import (
        IncrementalEmbeddingIndexSink,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    cut = ids[len(ids) // 2]
    b1 = emb.filter(F.col("vec_id") <= cut)
    b2 = emb.filter(F.col("vec_id") > cut)

    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_srv"), threshold=0.3)
    sink.apply_batch(b1, 0)
    epoch0_ids = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}

    sink._fail_after = "bands"  # kept/epoch=1 AND bands/epoch=1 exist, no marker
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.apply_batch(b2, 1)
    sink._fail_after = None

    assert {
        r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()
    } == epoch0_ids, "markerless epoch rows must be invisible to read_kept"
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == max(ids)).head().embedding
    ]
    probed = {r.vec_id for r in sink.topk(spark, q, k=50).collect()}
    assert probed <= epoch0_ids, "topk must not serve a crashed batch's rows"

    sink.apply_batch(b2, 1)  # retry commits
    after = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    assert after > epoch0_ids


def test_embedding_sink_serving_reads_empty_lake(spark, tmp_path):
    """ADVICE r8: an empty lake yields empty frames, not
    AnalysisException on the missing dirs."""
    from gomaxscale_spark.streaming.embedding_index import (
        IncrementalEmbeddingIndexSink,
    )

    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_empty"))
    assert sink.read_kept(spark).count() == 0
    assert sink.topk(spark, [1.0] * 64, k=5).count() == 0


def test_swap_publish_first_time_publish(tmp_path):
    """ADVICE r8: swap_publish with no live dir must do the staged→live
    rename instead of raising FileNotFoundError."""
    import os

    from gomaxscale_spark.streaming.epoch import EpochCommit

    root = str(tmp_path / "ec")
    os.makedirs(root)
    ec = EpochCommit(root)

    def write_staged(staging):
        os.makedirs(staging)
        open(f"{staging}/data.txt", "w").write("x")

    ec.swap_publish("kept", write_staged)
    assert os.path.isfile(f"{root}/kept/data.txt")
    # and the normal path still swaps
    def write_staged2(staging):
        os.makedirs(staging)
        open(f"{staging}/data.txt", "w").write("y")

    ec.swap_publish("kept", write_staged2)
    assert open(f"{root}/kept/data.txt").read() == "y"
    assert not os.path.isdir(f"{root}/kept__old")


def test_topk_batch_equals_per_query_probes(spark, sf_dir, tmp_path):
    """topk_batch(queries) must return, per query, exactly the rows
    the single-query topk() returns (same ids, scores, order) — the
    in-plan signature fold and the driver-side fold agree bit-for-bit
    and the re-rank is the same kernel."""
    from pyspark.sql import functions as F

    from gomaxscale_spark.catalog import load_table
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    emb = load_table(spark, sf_dir, "embeddings")
    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_batch"), threshold=0.3)
    sink.apply_batch(emb, 0)

    qids = [r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
    queries = (
        emb.filter(F.col("vec_id").isin(qids))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    batched = sink.topk_batch(queries, k=7).collect()
    by_q = {}
    for r in sorted(batched, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.score))

    for qid in qids:
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).select("embedding").head()[0]
        ]
        single = [(r.vec_id, r.score) for r in sink.topk(spark, qvec, k=7).collect()]
        assert by_q.get(qid) == single, f"query {qid} diverged"


def test_topk_batch_empty_lake(spark, tmp_path):
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_none"), threshold=0.3)
    queries = spark.createDataFrame(
        [(1, [0.1] * 64)], "query_id bigint, embedding array<float>"
    )
    assert sink.topk_batch(queries, k=3).count() == 0


def test_topk_batch_plan_lake_never_shuffled(spark, sf_dir, tmp_path):
    """The batched probe keeps the single probe's contract: kept/ and
    bands/ are scanned and broadcast-probed — no hash exchange keyed
    on the band/bucket join, and the only exchanges carry the (small)
    candidate/result rows (the distinct and the per-query window)."""
    import re

    from pyspark.sql import functions as F

    from gomaxscale_spark.catalog import load_table
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    emb = load_table(spark, sf_dir, "embeddings")
    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_bplan"), threshold=0.3)
    sink.apply_batch(emb.limit(60), 0)
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    p = (
        sink.topk_batch(queries, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    ex_keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", p)
    assert len(ex_keys) <= 2, "batched probe grew extra shuffles:\n" + p[:2000]
    for key in ex_keys:
        assert "band" not in key and "bucket" not in key, (
            f"hash exchange keyed on the bucket join key ({key}):\n" + p[:2000]
        )


def test_topk_batch_rejects_duplicate_query_ids(spark, tmp_path):
    """VERDICT r10 item 5: per-query ranking partitions on query_id —
    duplicate ids would interleave two queries' candidates into one
    top-k. The lake's batch probe must refuse loudly."""
    import pytest
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_dup"), threshold=0.3)
    queries = spark.createDataFrame(
        [(1, [0.1] * 64), (1, [0.9] * 64)], "query_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="duplicate query ids"):
        sink.topk_batch(queries, k=3)


def test_sign_band_signatures_kernel_parity(spark, sf_dir):
    """The Arrow matmul+pack signature kernel (``wide_band_signatures``)
    returns packed band values IDENTICAL to the reference per-plane
    folds (``lsh_signature_sql``) on the full corpus (also measured
    identical at x30/x100, SCALING.md r12) — signature equality implies
    identical buckets, candidates, and results for every downstream
    composition."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = S.hyperplanes(64, 64, 42)
    ref_cols = [
        F.expr(S.lsh_signature_sql("embedding", planes[b * 16 : (b + 1) * 16])).alias(
            f"s{b}"
        )
        for b in range(4)
    ]
    ref = {
        r.vec_id: (r.s0, r.s1, r.s2, r.s3)
        for r in emb.select("vec_id", *ref_cols).collect()
    }
    kern = {
        r.vec_id: (r.s0, r.s1, r.s2, r.s3)
        for r in S.wide_band_signatures(emb, dim=64).collect()
    }
    assert ref == kern and ref

    with pytest.raises(ValueError, match="planes"):
        VK.sign_band_signatures(planes, 16, 5)


def test_embedding_lake_sig_kernel_stamp(spark, sf_dir, tmp_path):
    """The lake's signature kernel is persisted state: a fresh lake is
    stamped 'numpy' on first ingest, and a lake stamped with anything
    else — or holding kept/ state with no stamp (a pre-stamp lake) —
    is refused LOUDLY, at ingest and at probe."""
    import json
    import os

    from gomaxscale_spark.streaming.embedding_index import (
        IncrementalEmbeddingIndexSink,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    b1 = emb.filter(F.col("vec_id") <= ids[len(ids) // 2])
    q = [float(x) for x in emb.orderBy("vec_id").limit(1).head().embedding]

    lake = str(tmp_path / "lake")
    stamp = f"{lake}/sig_kernel.json"
    IncrementalEmbeddingIndexSink(lake, threshold=0.3).apply_batch(b1, 0)
    with open(stamp) as f:
        assert json.load(f) == {"sig_kernel": "numpy"}

    # a lake stamped by another kernel: loud errors, ingest AND probe
    with open(stamp, "w") as f:
        json.dump({"sig_kernel": "hof"}, f)
    sink = IncrementalEmbeddingIndexSink(lake, threshold=0.3)
    with pytest.raises(ValueError, match="stamped sig_kernel='hof'"):
        sink.apply_batch(b1, 1)
    with pytest.raises(ValueError, match="stamped sig_kernel='hof'"):
        sink.topk(spark, q, k=5)

    # kept/ state with no stamp: refused, never silently re-bucketed
    os.remove(stamp)
    with pytest.raises(ValueError, match="pre-stamp state"):
        IncrementalEmbeddingIndexSink(lake, threshold=0.3).apply_batch(b1, 1)


# ------------------------------------------ moment kernel (r15)


def test_mu_quantize_bit_equal_to_sql_round(spark):
    """The kernel's µ-quantizer must be BIT-EQUAL to the SQL chain
    ``CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)`` — including the
    adversarial near-half doubles where floor(y+0.5) and BigDecimal
    HALF_UP disagree (the pq_code_kernel bit-equality discipline)."""
    xs = [
        0.49999999999999994e-6,   # floor(y+0.5) says 1, HALF_UP says 0
        -0.49999999999999994e-6,
        0.5e-6, -0.5e-6, 1.5e-6, -1.5e-6, 2.5e-6,  # exact halves
        0.0, 1e-7, -1e-7, 0.125, -0.125, 0.1, -0.1, 9.87654321,
        -9.87654321, 1.2345675e-6, 4.9999999e-7, 5.0000001e-7,
    ] + [float(np.float32(v)) for v in np.linspace(-1.3, 1.3, 101)]
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    sql_q = [
        r.q
        for r in df.select(
            F.expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").alias("q")
        ).collect()
    ]
    kern_q = VK.mu_quantize(np.array(xs, dtype=np.float64) * 1e6)
    assert sql_q == [int(v) for v in kern_q]


def test_moment_partials_matches_expression_agg(spark, sf_dir):
    """moment_partials ≡ the 129-buffer expression aggregation it
    replaced, value-for-value on the real embeddings table (exact
    integers, so equality is ==, not approx)."""
    e = load_table(spark, sf_dir, "embeddings")
    dim = 64
    kern = {
        r.dim: (r.n, int(r.s), int(r.ss))
        for r in VK.moment_partials(e, "embedding", dim).collect()
    }
    q = e.select(
        *[
            F.expr(
                f"CAST(round(CAST(element_at(embedding, {i}) AS DOUBLE)"
                " * 1000000) AS BIGINT)"
            ).alias(f"q{i}")
            for i in range(1, dim + 1)
        ]
    )
    row = q.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"q{i}").alias(f"s{i}") for i in range(1, dim + 1)],
        *[
            F.sum(F.col(f"q{i}").cast("decimal(38,0)") * F.col(f"q{i}")).alias(
                f"ss{i}"
            )
            for i in range(1, dim + 1)
        ],
    ).collect()[0]
    expect = {
        i: (row["n"], int(row[f"s{i}"]), int(row[f"ss{i}"]))
        for i in range(1, dim + 1)
    }
    assert kern == expect


def test_moment_partials_overflow_fallback_path(spark):
    """Pathological batch (rows·max(q²) ≥ 2^62) must take the
    unbounded-Python-int Σq² path and still emit EXACT sums — the
    per-dim ss here (1.8e19) overflows int64 itself, so only the
    Decimal packaging of the fallback can carry it (r16 ADVICE: the
    earlier form of this test never executed the kernel)."""
    big = 3.0e3  # q = 3e9, q² = 9e18: one row already exceeds 2^62
    df = spark.createDataFrame(
        [([big, -big],), ([big, big],)], "v array<double>"
    ).repartition(1)
    rows = {r.dim: r for r in VK.moment_partials(df, "v", 2).collect()}
    q = 3_000_000_000
    assert rows[1].n == 2 and rows[2].n == 2
    assert int(rows[1].s) == 2 * q  # big + big
    assert int(rows[2].s) == 0  # -big + big
    expect_ss = 2 * q * q  # 1.8e19 > int64 max: Decimal-exact or bust
    assert int(rows[1].ss) == expect_ss
    assert int(rows[2].ss) == expect_ss


def test_mu_quantize_large_magnitude_spacing_guard(spark):
    """r16 ADVICE: above the µ-scale domain the double spacing exceeds
    the old fixed 4e-9 near-half guard — at |y| ≥ 2^52 (spacing 1,
    every frac is 0) floor(y+0.5) ties-to-even ACROSS odd integers
    while BigDecimal HALF_UP keeps them. The spacing-scaled guard must
    route those through the exact slow path; parity vs Spark's own
    CAST(round(y) AS BIGINT) is the contract."""
    ys = [
        float(2**52 + 1),      # odd: floor(y+0.5) would tie-to-even up
        float(2**52 + 3),
        -float(2**52 + 1),
        float(2**52),
        4.503599627370497e15,  # 2^52 + 497... decimal repr round-trip
        3.7e7 + 0.5,           # just above the old 3.6e7 soundness bound
        1e7 - 0.5,
    ]
    got = VK.mu_quantize(np.array(ys, dtype=np.float64))
    expect = [
        r[0]
        for r in spark.createDataFrame([(y,) for y in ys], "y double")
        .select(F.expr("CAST(round(y) AS BIGINT)"))
        .collect()
    ]
    assert [int(v) for v in got] == [int(v) for v in expect]
