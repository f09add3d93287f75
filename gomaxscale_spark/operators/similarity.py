"""Similarity search over embedding columns (array<float>).

Two paths, per the standard ANN playbook:

- **Brute force** (`cosine_topk`): exact, one pass, no shuffle for the
  score (the query vector is a literal/broadcast); top-k via a single
  ``orderBy ... limit`` which Spark executes as TakeOrderedAndProject
  (per-partition heap + driver merge — no global sort materialized).
- **LSH-bucketed** (`lsh_bucket_topk`): random-hyperplane signatures
  restrict scoring to colliding buckets. At 100 TB this turns a full
  scan per query into a bucket-pruned scan; signatures are computable
  at ingest and usable as a partition/cluster key.

Single-query scoring is JVM-side (`zip_with` + `aggregate` higher-order
functions, whole-stage codegen); element order of the fold is the
array order, so results are bit-reproducible. Stages that fan a row
out against many vectors — the adaptive LSH verify, IVF and k-means
assignment — run ONE exact-cosine path, the Arrow-batched kernels of
``vector_kernel``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from . import vector_kernel as VK
from .bucketing import bucket_pairs, parallelize_narrow_input
from .materialize import materialize_once


def lit_vec(xs: Sequence[float]) -> Column:
    """A literal double array in ONE parser call instead of len(xs)+1
    Py4J round-trips (~0.2 s of driver time per 64-dim vector via the
    builder API). repr() round-trips every double exactly and Spark's
    CAST(decimal-literal AS DOUBLE) re-rounds to the same nearest
    double, so values are bit-identical to F.lit."""
    return F.expr(
        "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in xs) + ")"
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with double accumulation (float32 inputs upcast exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """0/0 (a zero-norm vector) is NULL, as in the DuckDB oracle, not
    an ANSI DIVIDE_BY_ZERO."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    Scale: the literal query vector ships inside the serialized plan
    (no join at all); scoring is a map; TakeOrderedAndProject keeps only
    k rows per partition. Ties broken by id for determinism.
    """
    q = lit_vec(query_vec)
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def pairwise_near_duplicates(
    embeddings: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (a<b) within a blocking key whose cosine ≥ threshold.

    Scale: the blocking key bounds the quadratic blowup — a shuffle-hash
    self-join on ``block_col`` scores only within-block pairs. For
    unblocked corpora use LSH bucketing (below) as the blocker instead.
    Norms are precomputed per vector (O(n)) instead of per pair (O(n²))
    — numerically identical, ~2 of the 3 folds removed from the pair
    loop.

    The probe side is fanned out to the cluster's parallelism BEFORE
    the join: when Catalyst picks a broadcast build, the stream side
    otherwise keeps the scan's partitioning (1 file → 1 task computing
    every pairwise score). The repartition moves only n rows — never
    the n² expanded pairs — and measured 1.45 s → 0.32 s at sf0.1
    (200k pairs, local[32]); results are bit-identical.
    """
    # materialize the normed frame once (r17 optimization round, guide
    # §2.4): both join sides consumed it with different projections, so
    # the embeddings scan + the HOF norm fold ran twice per invocation.
    with_norm = materialize_once(
        embeddings.select(
            F.col(block_col).alias("b_key"),
            F.col(id_col),
            F.col(vec_col),
            norm(F.col(vec_col)).alias("__norm"),
        )
    )
    a = with_norm.select(
        "b_key",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("__norm").alias("norm_a"),
    )
    a = parallelize_narrow_input(a)
    b = with_norm.select(
        "b_key",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("__norm").alias("norm_b"),
    )
    # threshold on the RAW cosine, round only in the projection: the
    # oracle twins filter unrounded, and a pair with raw score in
    # [threshold − 5e-7, threshold) would otherwise be kept here and
    # dropped there (round-4 advisor finding)
    return (
        a.join(b, "b_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__raw",
            F.try_divide(
                dot(F.col("vec_a"), F.col("vec_b")), F.col("norm_a") * F.col("norm_b")
            ),
        )
        .filter(F.col("__raw") >= threshold)
        .select("id_a", "id_b", F.round("__raw", 6).alias("score"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy needed at
    plan-build time; planes are tiny and ship as literals)."""
    planes: list[list[float]] = []
    state = seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(state / 0x40000000 - 1.0)  # uniform [-1, 1)
        planes.append(row)
    return planes


def lsh_signature(vec_col: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Random-hyperplane (SimHash-for-vectors) bucket id: one sign bit
    per plane packed into a BIGINT. Same-bucket vectors are cosine-close
    with high probability."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = lit_vec(plane)
        bit = (dot(vec_col, p) > 0).cast("long")
        sig = sig + F.shiftleft(bit, i)
    return sig


def lsh_signature_sql(vec_expr: str, planes: Sequence[Sequence[float]]) -> str:
    """`lsh_signature` as ONE Spark SQL string for a named column.

    Building the signature via the Column API costs one JVM parser
    round-trip per plane literal (~1.7 s of pure driver time for 32
    64-dim planes); a single F.expr over this string is one parse.
    The fold order and casts match `dot`/`lsh_signature` exactly, so
    the packed value is bit-identical."""
    bits = []
    for i, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in plane) + ")"
        d = (
            f"aggregate(zip_with({vec_expr}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        bits.append(f"CAST({1 << i} AS BIGINT) * (CASE WHEN {d} > 0 THEN 1L ELSE 0L END)")
    return "(" + " + ".join(bits) + ")"


def lsh_near_duplicates(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    planes_per_band: int = 8,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Banded sign-LSH near-dup pairs with exact-cosine verify — the
    corpus-scale blocker promised by ``pairwise_near_duplicates``'s
    docstring for unlabeled (or label-skewed) corpora.

    Semantics (deterministic, oracle-replayable): a pair (a<b) is a
    *candidate* iff the two vectors share the full signature of at
    least one band (``planes_per_band`` sign bits each, planes drawn
    from one fixed-seed stream); candidates are verified with the exact
    cosine and kept at ``score >= threshold``.

    Scale: this is the embedding analogue of ``dedup.minhash_lsh`` —
    expected bucket size ~N/2^planes_per_band, so within-bucket pair
    expansion is bounded by the signature width, not by a fixed label
    cardinality (the label-blocked exact variant goes quadratic per
    label as the corpus grows — measured 22× wall at 10× rows in
    SCALING.md). The bucket exchange carries (band, sig, id) only and
    pairs expand inside each bucket (``bucket_pairs``); vectors are
    re-joined just for the deduped candidate set, so verify cost is
    ∝ candidates. Buckets are uncapped: a population of zero or
    constant vectors shares one signature and expands quadratically.
    Signatures are ingest-computable → cluster/partition key at the
    lake layer.
    """
    all_planes = hyperplanes(dim, n_bands * planes_per_band, seed)
    # materialize the (vid, vec, nrm) frame once (r17 — same fix as the
    # adaptive variant): the HOF signature folds AND both verify sides
    # consumed it, so the scan + norm pass ran up to three times.
    with_norm = materialize_once(
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            norm(F.col(vec_col)).alias("nrm"),
        )
    )
    band_sigs = [
        F.expr(
            lsh_signature_sql("vec", all_planes[b * planes_per_band : (b + 1) * planes_per_band])
        ).alias(f"s{b}")
        for b in range(n_bands)
    ]
    sigs = with_norm.select("vid", *band_sigs)
    stacked = sigs.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"s{b}").alias("sig"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("vid", "bs.band", "bs.sig")
    # expected bucket size is N/2^planes_per_band by the banding
    # construction; pairs expand inside each bucket, one signature pass
    cand = bucket_pairs(stacked, ["band", "sig"], "vid")
    va = with_norm.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("norm_a")
    )
    vb = with_norm.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("norm_b")
    )
    # raw-cosine threshold, rounded projection — same engine-identical
    # predicate discipline as pairwise_near_duplicates above
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "__raw",
            F.try_divide(
                dot(F.col("vec_a"), F.col("vec_b")), F.col("norm_a") * F.col("norm_b")
            ),
        )
        .filter(F.col("__raw") >= threshold)
        .select("id_a", "id_b", F.round("__raw", 6).alias("score"))
    )


def adaptive_pow2_case_sql(
    count_expr: str, min_bits: int = 8, max_bits: int = 16, target_bucket: int = 64
) -> str:
    """Bucket-count dial as ONE portable integer CASE: the smallest
    2^w (w ∈ [min_bits, max_bits]) such that n / 2^w ≤ target_bucket —
    i.e. the signature width GROWS with the corpus so expected bucket
    size stays ~constant instead of N/2^fixed. Integer comparisons
    only (no log2/ceil floats), so Spark and DuckDB agree bit-for-bit
    at every boundary."""
    arms = []
    for w in range(max_bits, min_bits, -1):
        arms.append(f"WHEN {count_expr} > {target_bucket * (1 << (w - 1))} THEN {1 << w}")
    return "CASE " + " ".join(arms) + f" ELSE {1 << min_bits} END"


def lsh_near_duplicates_adaptive(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    planes_per_band: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    target_bucket: int = 64,
    wide_sigs: DataFrame | None = None,
) -> DataFrame:
    """``lsh_near_duplicates`` with an ADAPTIVE signature width — the
    fix for the fixed-2⁸-bucket blocker the 30× replica study exposed
    (SCALING.md r5): with 8 sign bits per band there are only 256
    buckets, so candidate pairs grow N²/2⁸ — 13.6 s at 10× data,
    DNF-class (> 15 min) at 30×. Same failure family as the
    label-blocked exact form, one level up.

    Here each band carries ``planes_per_band`` (16) sign bits and the
    bucket key is ``sig % 2^w`` where 2^w is derived IN-PLAN from the
    corpus count (1-row broadcast; integer CASE, engine-portable — see
    adaptive_pow2_case_sql): expected bucket size stays ~target_bucket
    at any corpus size, so pair expansion scales ~N·target_bucket
    instead of N²/2^fixed. Masking to the low w bits = using the first
    w hyperplanes of the band — still a valid sign-LSH family, and at
    gate scale (n ≤ 16k) w = 8 reproduces the classic bucket width.
    The oracle replays count → width → mask → verify from the same
    plane literals and CASE, so the adaptive dial is itself
    oracle-checked (the embedding analogue of
    timeseries_topk_similar_scaled's in-plan K).

    ``wide_sigs`` (optional): a precomputed ``(id_col, s0..s{n_bands-1})``
    frame with the SAME plane family/order (``wide_band_signatures``) —
    callers that already materialized the signatures (the streaming
    embedding lake) pass it to skip re-running the sign-bit pipeline;
    result-identical by construction. The frame must carry columns
    ``id_col, s0..s{n_bands-1}`` produced by ``wide_band_signatures``
    with the SAME (dim, planes_per_band, n_bands, seed) — the plane
    family is seed-derived, so a signature frame built under any other
    parameters buckets differently and silently MISSES near-dups;
    asserted structurally here (column presence), contract-documented
    for the seed (not recoverable from the frame itself).

    The exact-cosine VERIFY of the candidate pairs is the Arrow-batched
    kernel (vector_kernel.cosine_pairs) thresholded on the 6dp-rounded
    score. A zero-norm vector scores NULL (0/0) against anything, so
    its pairs are dropped — the oracle's ``round(0/0, 6) >= t`` is NULL
    as well. The streaming embedding lake verifies with the same
    kernel, so a one-batch stream equals this operator by
    construction.

    The SIGNATURE stage is the Arrow matmul+pack kernel
    (vector_kernel.sign_band_signatures, via ``wide_band_signatures``):
    SCALING.md r12 timed the interpreted per-plane folds at 21.98 s
    x30 / 67.94 s x100 against 0.68 / 0.93 s for the kernel, packed
    values IDENTICAL at every scale tried. Sign parity is empirical-but-exact-so-far: a flip
    needs |dot| inside last-ulp noise; gated by a collected-signature
    equality test against ``lsh_signature_sql`` and the oracle replay
    at both SFs.
    """
    # materialize the (vid, vec) frame once (r17 optimization round,
    # guide §2.4): the signature stage and BOTH verify sides consume it
    # with different projections, so without the checkpoint the
    # embeddings scan ran up to three times per invocation (plus a
    # fourth pruned scan for the corpus count, read off the same
    # artifact). One scan; candidates and verify both read it.
    with_vec = materialize_once(
        embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    )
    nn = with_vec.agg(F.count(F.lit(1)).alias("__n"))
    if wide_sigs is not None:
        expected = [id_col] + [f"s{b}" for b in range(n_bands)]
        missing = [c for c in expected if c not in wide_sigs.columns]
        if missing:
            raise ValueError(
                "lsh_near_duplicates_adaptive: wide_sigs is missing "
                f"columns {missing} — pass a frame from "
                f"wide_band_signatures(dim={dim}, planes_per_band="
                f"{planes_per_band}, n_bands={n_bands}, seed={seed})"
            )
        sig_src = wide_sigs.select(
            F.col(id_col).alias("vid"), *[f"s{b}" for b in range(n_bands)]
        )
    else:
        sig_src = wide_band_signatures(
            with_vec, dim, "vid", "vec", planes_per_band, n_bands, seed
        )
    sigs = (
        sig_src
        .crossJoin(F.broadcast(nn))
        .withColumn("__p2", F.expr(adaptive_pow2_case_sql("__n", target_bucket=target_bucket)))
    )
    stacked = sigs.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (F.col(f"s{b}") % F.col("__p2")).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("vid", "bs.band", "bs.bucket")
    # pairs expand inside each (band, bucket): one signature pass, one
    # exchange. The adaptive width pins the EXPECTED bucket size at
    # ~target_bucket; it does not bound the worst case — zero or
    # constant vectors share one bucket, and this expansion is uncapped
    cand = bucket_pairs(stacked, ["band", "bucket"], "vid")
    va = with_vec.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = with_vec.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"))
    # threshold on the 6dp-ROUNDED score (ADVICE r9): numpy's pairwise
    # summation differs from DuckDB's sequential fold in the last ulps,
    # so a raw-score threshold would let boundary pairs flip
    # kept/dropped between engine and oracle; the oracle applies the
    # identical round-then-compare. (The HOF operators keep the raw
    # threshold: their fold is bit-identical to the oracle's, the r4
    # decision.)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("__score", F.round(VK.cosine_pairs(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("__score") >= threshold)
        .select("id_a", "id_b", F.col("__score").alias("score"))
    )


def wide_band_signatures(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 16,
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(id, s0..s{n_bands-1}): each vector's FULL per-band sign
    signatures, one column per band — the single signature-pipeline
    run both the exploded index rows (``band_signature_rows``) and the
    within-batch pair generator (``lsh_near_duplicates_adaptive``'s
    ``wide_sigs`` hook) derive from. Same plane family/order
    everywhere.

    One Arrow-batched matmul+pack (vector_kernel.sign_band_signatures)
    — measured packed-value-IDENTICAL to the per-plane
    ``lsh_signature_sql`` folds at sf0.1/x30/x100 and 32-73× faster at
    replica scale (SCALING.md r12; sign flips would need |dot| inside
    last-ulp noise). A signature STORE must be read and written under
    ONE kernel — mixing kernels across epochs is the same contract
    violation as mixing plane seeds."""
    all_planes = hyperplanes(dim, n_bands * planes_per_band, seed)
    sigk = VK.sign_band_signatures(all_planes, planes_per_band, n_bands)
    return embeddings.select(
        F.col(id_col), sigk(F.col(vec_col)).alias("__s")
    ).select(
        F.col(id_col),
        *[F.col(f"__s.s{b}").alias(f"s{b}") for b in range(n_bands)],
    )


def band_signature_rows(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    wide_sigs: DataFrame | None = None,
) -> DataFrame:
    """(id, band, sig) rows: each vector's FULL per-band sign
    signatures (``planes_per_band`` bits, unmasked). Stored unmasked so
    an index built at corpus size N can be re-probed at any later size
    N′ — the adaptive bucket key is ``sig % 2^w`` with w derived from
    the CURRENT count at probe time, so the index never needs
    re-bucketing as the corpus grows (only the cheap mask changes).
    Same plane family/order as ``lsh_near_duplicates_adaptive``; pass
    a precomputed ``wide_sigs`` to explode without re-running the
    sign-bit pipeline."""
    if wide_sigs is None:
        wide_sigs = wide_band_signatures(
            embeddings, dim, id_col, vec_col, planes_per_band, n_bands, seed
        )
    return wide_sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"s{b}").alias("sig"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "bs.band", "bs.sig")


def lsh_bucket_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket.

    Scale: with signatures precomputed at ingest and the table clustered
    by signature, this prunes the scan to ~N/2^n_planes rows; the probe
    bucket id is a literal so Catalyst turns it into a partition filter.
    """
    planes = hyperplanes(len(query_vec), n_planes, seed)
    # driver-side signature of the (single) query vector
    qsig = 0
    for i, plane in enumerate(planes):
        s = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        qsig |= (1 if s > 0 else 0) << i
    q = lit_vec(query_vec)
    bucketed = embeddings.withColumn("__sig", lsh_signature(F.col(vec_col), planes))
    return (
        bucketed.filter(F.col("__sig") == qsig)
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat ANN: coarse-quantize vectors to their nearest centroid,
    then scan only the `n_probe` centroids nearest the query.

    Centroids here are a deterministic sample (the first `n_centroids`
    vectors by id) — production would k-means them; the *plumbing*
    (assignment join, inverted-list pruning, probe-side recall/latency
    dial) is identical. Assignment is ingest-time computable → the
    centroid id doubles as a partition/cluster key, so a probe reads
    ~n_probe/n_centroids of the data.

    Scale: the centroid table is O(n_centroids) → broadcast; assignment
    is a map; the probe filter prunes partitions when the table is
    clustered by centroid_id. The probe set stays IN the plan as an
    n_probe-row broadcast join — zero driver lookups, so the whole
    query is one job with no extra round-trip per probe.
    """
    centroids = (
        embeddings.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.row_number().over(W.orderBy(id_col)).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )
    q = lit_vec(query_vec)
    # nearest centroids to the query (tiny: n_probe rows, broadcast)
    probe = (
        centroids.select("centroid_id", cosine(F.col("centroid_vec"), q).alias("s"))
        .orderBy(F.desc("s"), F.col("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    assigned = (
        embeddings.join(F.broadcast(centroids))
        .withColumn("s", cosine(F.col(vec_col), F.col("centroid_vec")))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(id_col).orderBy(F.desc("s"), F.col("centroid_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, "centroid_id")
    )
    probed = assigned.join(F.broadcast(probe), "centroid_id")
    return (
        probed.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def adaptive_sqrt_pow2_case_sql(
    count_expr: str, min_bits: int = 2, max_bits: int = 16
) -> str:
    """Centroid/stride dial as ONE portable integer CASE: the smallest
    2^w (w ∈ [min_bits, max_bits]) with (2^w)² ≥ n — i.e. ~√n rounded
    up to a power of two. The balanced IVF sizing: with n_centroids ≈
    n/2^w ≈ √n, ranking the centroids costs ~√n dot products and each
    inverted list holds ~√n vectors, so per-probe work is O(√n) on
    both legs instead of O(n/const) on one of them. Integer
    comparisons only, so Spark and DuckDB agree at every boundary."""
    arms = []
    for w in range(max_bits, min_bits, -1):
        arms.append(f"WHEN {count_expr} > {1 << (2 * (w - 1))} THEN {1 << w}")
    return "CASE " + " ".join(arms) + f" ELSE {1 << min_bits} END"


def lsh_bucket_topk_adaptive(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int,
    max_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    target_bucket: int = 128,
    min_bits: int = 4,
) -> DataFrame:
    """``lsh_bucket_topk`` with an ADAPTIVE probe width — the serving
    twin of the fix that unblocked the dedup side at 30× (SCALING.md
    r5): a fixed ``n_planes`` gives 2^fixed buckets forever, so the
    probed bucket holds N/2^fixed vectors and per-query scan cost
    grows linearly with the corpus. Here every row carries the full
    ``max_planes``-bit signature and the bucket key is
    ``sig % 2^w`` with 2^w derived IN-PLAN from the corpus count
    (1-row broadcast; integer CASE — adaptive_pow2_case_sql), so the
    probed bucket stays ~``target_bucket`` vectors at ANY corpus
    size. Masking to the low w bits = using the first w hyperplanes —
    still a valid sign-LSH family. The query's signature is the same
    driver-side fold over the same plane literals, masked by the same
    in-plan width, so Spark and the DuckDB oracle replay
    count → width → mask → scan identically.

    Scale: signatures are ingest-time computable (one map over the
    corpus); with the table clustered by ``sig % 2^w`` the probe is a
    partition-pruned read of ~target_bucket rows. Re-bucketing after
    corpus growth is a metadata-cheap rewrite of the low-bits key,
    not a recompute of the signatures."""
    planes = hyperplanes(len(query_vec), max_planes, seed)
    qsig = 0
    for i, plane in enumerate(planes):
        s = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        qsig |= (1 if s > 0 else 0) << i
    q = lit_vec(query_vec)
    nn = embeddings.agg(F.count(F.lit(1)).alias("__n"))
    # measured, not applied: parallelize_narrow_input before this scan
    # was ~30% SLOWER at the x30 replica (9.2 → 11.9 s) — the 16-dot
    # signature map is too cheap to pay a 60k-vector-row shuffle for,
    # unlike the IVF assignment fan-out below (SCALING.md r8).
    # Signatures: the same Arrow matmul+pack kernel as the dedup side
    # (packed values identical to the sign fold, SCALING.md r12) — one
    # 16-bit band
    sigk = VK.sign_band_signatures(planes, max_planes, 1)
    with_sig = embeddings.withColumn("__sig", sigk(F.col(vec_col))["s0"])
    bucketed = (
        with_sig
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "__p2",
            F.expr(
                adaptive_pow2_case_sql(
                    "__n", min_bits=min_bits, target_bucket=target_bucket
                )
            ),
        )
    )
    return (
        bucketed.filter(F.col("__sig") % F.col("__p2") == F.lit(qsig) % F.col("__p2"))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def ivf_topk_adaptive(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_bits: int = 2,
    max_bits: int = 16,
) -> DataFrame:
    """``ivf_topk`` with an ADAPTIVE centroid count — the other fixed-
    width serving op named by the r7 scale audit (fixed
    ``n_centroids=16`` means each inverted list holds N/16 vectors, so
    per-probe scan cost grows linearly; the one measured x10 point had
    the assignment scan dominating wall). Centroids are the rows with
    ``id % stride == 0`` where ``stride`` = smallest 2^w with
    (2^w)² ≥ N — i.e. n_centroids ≈ √N, the balanced IVF sizing
    (ranking centroids ~√N dots; each probed list ~√N vectors). A
    plain modulus sample needs no global sort or row_number (the fixed
    twin's rank-sample is a single-partition window at scale); the
    centroid id IS the vector id, so tie-breaks replay portably.
    Production still k-meanses the centroids at ingest
    (kmeans_centroid_vectors / ivf_kmeans_topk); the modulus sample is
    the deterministic stand-in with identical plumbing.

    What runs: an eager ``count()`` sizes the stride and the sampled
    centroid matrix is collected driver-side (O(√N·dim) — the standard
    IVF coarse-quantizer artifact, ~8 MB at 10⁹ 64-dim vectors); the
    probe cells are ranked on the driver, and assignment is ONE
    Arrow-batched ``assign_nearest`` map that also carries each
    vector's query score — no N×√N row expansion, no assignment
    exchange. Ties go to the lowest centroid id, as in the oracle's
    replay of count → stride → sample → assign → probe. The kernel
    priced the x100 assignment at 2.74 s against 63.1 s for the
    interpreted fold it replaced (SCALING.md r10)."""
    import numpy as np

    n = embeddings.count()
    stride = VK.adaptive_sqrt_pow2(n, min_bits, max_bits)
    cent_ids, M = VK.collect_matrix(
        embeddings.filter((F.col(id_col) % stride) == 0), id_col, vec_col
    )
    qv = np.asarray(list(query_vec), dtype=np.float64)
    cs = (M @ qv) / (
        np.sqrt(np.einsum("ij,ij->i", M, M)) * float(np.sqrt((qv * qv).sum()))
    )
    # top-n_probe centroids by (cosine desc, centroid_id asc), ranked
    # on the 6dp-ROUNDED score (the output contract's own granularity —
    # ADVICE r9): a last-ulp divergence from the oracle's fold near a
    # tie then cannot flip cell selection, because both rank rounded
    # and break the tie on centroid_id. Two residual caveats (ADVICE
    # r10): np.round is half-to-even while DuckDB rounds
    # half-away-from-zero, so an EXACT .5-at-6dp cosine would still
    # rank differently — unreachable in practice for double-valued
    # cosines but not excluded by construction; and parity below the
    # 6th decimal (the argmax ASSIGNMENT) remains empirical — gated by
    # the oracle replay at both scales, not by construction.
    order = np.lexsort((np.asarray(cent_ids), -np.round(cs, 6)))
    probe_ids = [int(cent_ids[i]) for i in order[:n_probe]]
    assign = VK.assign_nearest(cent_ids, M, query_vec=query_vec)
    assigned = parallelize_narrow_input(embeddings).select(
        F.col(id_col), assign(F.col(vec_col)).alias("__a")
    )
    return (
        assigned.filter(F.col("__a.centroid_id").isin(probe_ids))
        .select(F.col(id_col), F.round(F.col("__a.qscore"), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def kmeans_centroid_vectors(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``kmeans_refine``'s loop returning assembled (centroid_id,
    centroid_vec) rows — the coarse-quantizer table consumers broadcast.

    Per-dimension means are rounded to 6 decimals before reassembly as
    a cross-engine determinism barrier: an unrounded mean differs from
    the oracle's by summation order (last ulp), and downstream argmax
    assignments must not hinge on it. 1e-6 centroid precision is
    immaterial to clustering quality.

    Each iteration collects the k·dim centroid matrix driver-side and
    assigns with ONE Arrow-batched ``assign_nearest`` map (MLlib's own
    Lloyd's layout: centroids driver-side per iteration, assignment a
    pure map — 1.34 s at x100 against 41.3 s for the broadcast-join +
    row_number form it replaced, SCALING.md r10). The per-dimension
    mean UPDATE stays in-plan (partial-aggregable posexplode groupBy).
    Ties go to the lowest centroid id.
    """
    centroids = (
        embeddings.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.row_number().over(W.orderBy(id_col)).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )
    for _ in range(n_iters):
        cent_ids, M = VK.collect_matrix(centroids, "centroid_id", "centroid_vec")
        assign = VK.assign_nearest(cent_ids, M)
        assigned = embeddings.select(
            assign(F.col(vec_col))["centroid_id"].alias("centroid_id"),
            F.col(vec_col),
        )
        means = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("dim_idx", "val")
            )
            .groupBy("centroid_id", "dim_idx")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"))
        )
        # re-assemble vectors for the next round's collect (k·dim rows)
        centroids = (
            means.groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim_idx"), F.col("centroid")))
                ).alias("pairs")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pairs"), lambda p: p["centroid"]).alias("centroid_vec"),
            )
        )
    return centroids


def kmeans_refine(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means refinement of the IVF coarse quantizer:
    deterministic seed (first `n_centroids` vectors by id), then
    `n_iters` rounds of assign (argmax cosine, ties → lowest centroid
    id) + update (per-dimension mean of assigned vectors). Returns the
    refined centroids as (centroid_id, dim_idx, centroid) rows — the
    long layout feeds `label_centroids`-style consumers and avoids
    array re-assembly.

    This is the production upgrade of ``ivf_topk``'s id-ordered sample
    noted there: better-balanced inverted lists → flatter probe fan-out.

    Scale per iteration: centroid table is O(k·dim) → collected once
    and shipped with the assignment map over the corpus; the update shuffles (centroid,
    dim, partial sum) — map-side combine collapses per partition, so
    the exchange is O(k·dim·partitions), independent of corpus size.
    A cluster that captures nothing would drop out — impossible with
    the id-ordered seed, since each seed centroid IS a corpus vector
    and wins its own assignment (cosine exactly 1, no parallel dupes).
    Deterministic at fixed n_iters → oracle-expressible by unrolling.
    """
    return kmeans_centroid_vectors(
        embeddings, n_centroids, n_iters, id_col, vec_col
    ).select("centroid_id", F.posexplode("centroid_vec").alias("dim_idx", "centroid"))


def label_centroids(embeddings: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label, per-dimension centroid: (label, dim_idx, centroid, n).

    The k-means "update" step / class-prototype computation, expressed
    as posexplode + hash agg. Scale: the shuffle carries (label, dim)
    partial sums — map-side combine reduces dims×labels rows per
    partition, independent of corpus size. The long (label, dim) layout
    avoids any array re-assembly until a consumer needs it
    (`collect_list` sorted by dim_idx reassembles vectors).
    """
    exploded = embeddings.select(
        F.col(label_col), F.posexplode(vec_col).alias("dim_idx", "val")
    )
    return exploded.groupBy(label_col, "dim_idx").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


def quantize_int8(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 quantization: q[i] = round(v[i] · 127/max|v|),
    exploded to (id, dim_idx, q) rows.

    The storage-side half of quantized ANN (IVF-PQ-lite): int8 vectors
    are 4× smaller than float32 — at 100 TB that is the difference
    between an index that fits executor memory and one that doesn't.
    Pure per-row map (scale factor is a fold over the row's own array),
    no shuffle; dequantization error is bounded by max|v|/254 per dim.
    """
    scale = F.lit(127.0) / F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    return embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("int")
            )
        ).alias("dim_idx", "q"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal with k-means clusters as the blocking key —
    pairwise cosine is computed only WITHIN a cluster, and of every
    near-duplicate group the lowest id survives. Returns the DROP list:
    one row per removed vector with its cluster, the surviving witness
    (its smallest-id ≥-threshold neighbor) and that pair's score.

    Assignment is the Arrow ``assign_nearest`` kernel against the
    id-ordered deterministic seed centroids (same quantizer convention
    as the IVF/cluster-balanced entries — the oracle replays it in
    SQL); the pair stage mirrors ``pairwise_near_duplicates`` with the
    LEARNED cluster as ``block_col``: per-vector norms precomputed, raw
    cosine thresholded, 6dp rounding only in the projection.

    Scale (the paper's own answer): k grows with the corpus so the
    per-cluster population — and therefore the pair fan-out — stays
    bounded (k ≈ N/target_size; the paper used 50k clusters at
    web scale). The quantizer stays O(k·dim) task-local state, the
    pair join shuffles each vector ONCE keyed by cluster, and a
    pathological mega-cluster is handled like any hot dedup band:
    count-first caps (see dedup_minhash_lsh_capped).
    """
    seeds = (
        embeddings.orderBy(id_col)
        .limit(n_clusters)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )
    cent_ids, M = VK.collect_matrix(seeds, "cid", "cvec")
    assign = VK.assign_nearest(list(range(1, len(cent_ids) + 1)), M)
    # materialize the assigned frame once (r17 optimization round,
    # guide §2.4/§4): it feeds BOTH sides of the cluster-keyed pair
    # self-join below with different projections, so without the
    # checkpoint the Arrow assignment kernel (a full corpus pass
    # through the Python boundary) executed once per side — the plan
    # carried 8 ArrowEvalPython nodes and two embeddings scans; after,
    # one kernel pass and one scan (plans/r17, sweep-pinned).
    blocked = materialize_once(
        parallelize_narrow_input(
            embeddings.select(F.col(id_col), F.col(vec_col))
        ).select(
            F.col(id_col),
            F.col(vec_col),
            assign(F.col(vec_col))["centroid_id"].alias("cluster_id"),
            norm(F.col(vec_col)).alias("__norm"),
        )
    )
    a = blocked.select(
        "cluster_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("__norm").alias("norm_a"),
    )
    b = blocked.select(
        "cluster_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("__norm").alias("norm_b"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__raw",
            # 6dp-rounded BEFORE the threshold (r14 ADVICE): a last-ulp
            # fold divergence between the Arrow/JVM dot and the oracle's
            # SQL fold must not flip pair membership — the same rounded-
            # score discipline as benchmark_decontaminate_embeddings.
            F.round(
                F.try_divide(
                    dot(F.col("vec_a"), F.col("vec_b")), F.col("norm_a") * F.col("norm_b")
                ),
                6,
            ),
        )
        .filter(F.col("__raw") >= threshold)
    )
    return (
        pairs.groupBy(F.col("id_b").alias(id_col), "cluster_id")
        .agg(
            F.min("id_a").alias("witness_id"),
            F.min_by("__raw", "id_a").alias("witness_score"),
        )
        .select(
            id_col,
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "witness_id",
            "witness_score",
        )
    )


def benchmark_decontaminate_embeddings(
    embeddings: DataFrame,
    bench_mod: int = 41,
    threshold: float = 0.32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination (the semantic
    complement of the n-gram/Bloom contamination family; cf. the
    embedding-similarity decontamination of Gunasekar et al. 2023,
    phi-1 §2.4): flag every corpus vector whose cosine to ANY held-out
    benchmark vector reaches the threshold — catches paraphrased
    leakage that token-overlap checks miss. The benchmark slice here
    is the deterministic ``id % bench_mod == 0`` sample; in production
    it is the eval-suite embedding table.

    Returns (id, bench_id, score): the nearest benchmark item and its
    6dp-rounded cosine, thresholded on the ROUNDED score (the output
    contract's own granularity — the ivf_topk_scaled rounding
    discipline) so a last-ulp fold divergence cannot flip membership.

    Scale: the benchmark suite is small and bounded (≤10⁵ vectors ≈
    tens of MB) — it rides task-local inside ONE Arrow
    ``assign_nearest`` pass over the corpus; no join, no N×B fan-out
    rows, no shuffle at all. The corpus is touched exactly once.
    """
    bench = embeddings.filter((F.col(id_col) % bench_mod) == 0).select(
        F.col(id_col), F.col(vec_col)
    )
    bench_ids, B = VK.collect_matrix(bench, id_col, vec_col)
    assign = VK.assign_nearest(bench_ids, B, with_score=True)
    corpus = parallelize_narrow_input(
        embeddings.filter((F.col(id_col) % bench_mod) != 0).select(
            F.col(id_col), F.col(vec_col)
        )
    )
    return (
        corpus.select(
            F.col(id_col), assign(F.col(vec_col)).alias("__a")
        )
        .select(
            F.col(id_col),
            F.col("__a.centroid_id").alias("bench_id"),
            F.round(F.col("__a.score"), 6).alias("score"),
        )
        .filter(F.col("score") >= F.lit(threshold))
    )


def cluster_label_purity(
    embeddings: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space QUALITY card: per-cluster label purity — assign
    every vector to its nearest deterministic seed centroid and report,
    per cluster, its population, majority label (tie → lowest label)
    and purity = majority/total. The standard external-validation
    readout for an embedding table that ships with any labeled slice
    (cluster purity, cf. the classic IR clustering-evaluation measure):
    a purity collapse after an embedding-model swap is the cheapest
    early warning the downstream ANN/dedup families get.

    Scale: assignment is ONE Arrow ``assign_nearest`` pass (quantizer
    task-local); the only exchange carries (cluster_id, label) int
    pairs; the rank/total windows run on the ≤k·|labels| agg output.
    """
    seeds = (
        embeddings.orderBy(id_col)
        .limit(n_clusters)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )
    cent_ids, M = VK.collect_matrix(seeds, "cid", "cvec")
    assign = VK.assign_nearest(list(range(1, len(cent_ids) + 1)), M)
    assigned = parallelize_narrow_input(
        embeddings.select(F.col(vec_col), F.col(label_col))
    ).select(
        assign(F.col(vec_col))["centroid_id"].alias("cluster_id"),
        F.col(label_col),
    )
    counts = assigned.groupBy("cluster_id", label_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    rank = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(F.desc("__n"), F.asc(label_col))
    )
    total = F.sum("__n").over(W.partitionBy("cluster_id"))
    return (
        counts.select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col(label_col).alias("majority_label"),
            F.col("__n"),
            rank.alias("__rn"),
            total.alias("__tot"),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col("__tot").cast("long").alias("n_vectors"),
            "majority_label",
            F.col("__n").cast("long").alias("n_majority"),
            F.round(F.col("__n").cast("double") / F.col("__tot"), 6).alias(
                "purity"
            ),
        )
    )
