"""Arrow-batched numpy kernels for dense-vector cosine math.

The portable per-row kernel (`operators/similarity.py` ``cosine``:
``aggregate(zip_with(...))``) is an *interpreted* higher-order
expression — measured ~3 µs per 64-dim pair (SCALING.md r8). That is
fine when each row is scored against ONE literal query vector, but it
dominates wall time wherever the plan fans a row out against many
candidates: the IVF/k-means assignment (N rows × √N centroids = 55 s
at 200k×391 on 32 cores) and the embedding lakes' exact-cosine verify
joins. These kernels move that inner loop to numpy: one Arrow
transfer of the vector batch, then a single BLAS matmul / einsum per
batch — the measured ~µs/pair cost drops to the memory-bandwidth
floor, and the N×k assignment needs **no row expansion at all** (the
candidate matrix rides task-local, closed over the UDF, so the plan
is a pure map instead of a broadcast-join fan-out + re-aggregation).

These are the ONE exact-cosine path of every fan-out stage (the
adaptive LSH verify, IVF/k-means assignment, cluster-balanced sampling
and the streaming embedding lake); the interpreted fold stays only for
single-query scoring. Numerical contract: numpy's SIMD/pairwise
summation differs from the sequential fold (and from DuckDB's) only in
the last ulps (~1e-15 on unit-scale cosines), and every consumer rounds
to 6 decimals before anything the oracle compares or thresholds —
gated by the full-catalog oracle replay at sf0.001 + sf0.01. A
zero-norm vector scores NaN, which reaches Spark as NULL, the same
value DuckDB gives 0/0.

Null/shape contract: callers feed non-null, equal-dimension vectors
(every call site scores join outputs or scans of the embeddings
table). A ragged batch fails loudly in ``np.stack``.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf


def _stack(s: pd.Series) -> np.ndarray:
    """(n, d) float64 matrix from an Arrow list<float> column batch.

    Arrow hands each array element as a numpy float32 view; one stack +
    astype is the whole transfer cost (float32→float64 is exact, same
    as the HOF path's per-element ``cast("double")``).
    """
    return np.stack(s.to_numpy()).astype(np.float64, copy=False)


def cosine_pairs(a: Column, b: Column) -> Column:
    """Pairwise cosine(a, b) — the vectorized twin of
    ``similarity.cosine`` for verify stages that score CANDIDATE PAIRS
    (two vector columns side by side after a join).

    Exactly the HOF formula per row: Σaᵢbᵢ / (‖a‖·‖b‖), float64
    accumulation; a zero-norm side yields NaN, which Arrow hands to
    Spark as NULL (the HOF fold gives NULL through ``try_divide``).
    """

    @pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        A = _stack(xs)
        B = _stack(ys)
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
            np.einsum("ij,ij->i", B, B)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(num / den)

    return _cos(a, b)


def cosine_vs_query(query_vec: Sequence[float]):
    """A one-argument kernel scoring each vector against ONE query
    vector closed over the UDF — the vectorized twin of
    ``cosine(col, lit_vec(q))`` for re-rank stages. Returns a callable
    usable as ``cosine_vs_query(q)(F.col("embedding"))``."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    @pandas_udf("double")
    def _cosq(xs: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        A = _stack(xs)
        num = A @ q
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(num / den)

    return _cosq


#: Centroid-block width for the chunked argmax: peak per-task score
#: memory is O(batch × block) = 10,000 × 1,024 × 8 B ≈ 80 MB at the
#: default Arrow batch size, independent of k — at the kernel's
#: 10⁹-vector design point (k = √N ≈ 2¹⁵⁻¹⁶ centroids) the unchunked
#: batch×k matrix would be 2.6-5.2 GB per task (VERDICT r9 item 1).
ASSIGN_BLOCK = 1024


def _argmax_cosine(A: np.ndarray, An: np.ndarray, M: np.ndarray, Mn: np.ndarray):
    """Row-wise argmax of cosine(A, M) iterating M in ASSIGN_BLOCK-
    column blocks with a running (best_score, best_index) — memory
    bounded at O(batch × block) instead of O(batch × k).

    Bit-identical to ``np.argmax((A @ M.T) / ...)``: numpy's argmax
    treats NaN as maximal and returns the FIRST maximal index, so the
    running update keeps an earlier block's winner on ties (strict
    ``>``) and prefers the first NaN (``isnan(new) & ~isnan(best)``).
    """
    n, k = A.shape[0], M.shape[0]
    best_j = np.zeros(n, dtype=np.int64)
    best_s = np.full(n, -np.inf, dtype=np.float64)
    first = True
    rows = np.arange(n)
    with np.errstate(divide="ignore", invalid="ignore"):
        for lo in range(0, k, ASSIGN_BLOCK):
            hi = min(lo + ASSIGN_BLOCK, k)
            S = (A @ M[lo:hi].T) / (An[:, None] * Mn[None, lo:hi])
            j = np.argmax(S, axis=1)
            s = S[rows, j]
            if first:
                best_j, best_s, first = j + lo, s, False
            else:
                upd = (s > best_s) | (np.isnan(s) & ~np.isnan(best_s))
                best_j = np.where(upd, j + lo, best_j)
                best_s = np.where(upd, s, best_s)
    return best_j, best_s


def assign_nearest(
    centroid_ids: Sequence[int],
    centroid_matrix: np.ndarray,
    query_vec: Sequence[float] | None = None,
    with_score: bool = False,
):
    """Argmax-cosine assignment kernel: vec → struct(centroid_id
    [, qscore]) in ONE Arrow pass — the replacement for the N×k
    broadcast-join fan-out (N·k expanded rows + a re-aggregation
    exchange) in IVF/k-means assignment. The centroid matrix is
    task-local (serialized once with the UDF, O(√N·dim) — the standard
    driver-side coarse-quantizer artifact, ~8 MB at 10⁹ vectors).

    Tie-break parity with the oracle's ``ORDER BY s DESC, cid``:
    ``centroid_ids`` MUST be ascending — the argmax returns the
    first maximal column, i.e. the lowest centroid id.

    Memory: scores are computed over ``ASSIGN_BLOCK``-column centroid
    blocks with a running argmax (identical result, see
    ``_argmax_cosine``), so peak per-task memory is O(batch × block)
    — the k = 2¹⁵⁻¹⁶ quantizer of a 10⁹-vector corpus fits executor
    memory instead of materializing a multi-GB batch×k matrix.

    When ``query_vec`` is given the same batch also carries the
    query score (the IVF serving path needs both), saving a second
    Arrow transfer of the vectors.
    """
    ids = np.asarray(list(centroid_ids), dtype=np.int64)
    if len(ids) == 0:
        raise ValueError("assign_nearest: empty centroid set")
    if not np.all(np.diff(ids) > 0):
        raise ValueError(
            "assign_nearest: centroid_ids must be strictly ascending "
            "(argmax tie-break = lowest id relies on column order)"
        )
    M = np.asarray(centroid_matrix, dtype=np.float64)
    if M.ndim != 2 or M.shape[0] != len(ids):
        raise ValueError(
            f"assign_nearest: matrix shape {M.shape} != ({len(ids)}, dim)"
        )
    Mn = np.sqrt(np.einsum("ij,ij->i", M, M))

    if with_score:
        if query_vec is not None:
            raise ValueError("assign_nearest: with_score excludes query_vec")

        @pandas_udf("struct<centroid_id: bigint, score: double>")
        def _assign_s(xs: pd.Series) -> pd.DataFrame:
            if len(xs) == 0:
                return pd.DataFrame(
                    {
                        "centroid_id": np.empty(0, dtype=np.int64),
                        "score": np.empty(0, dtype=np.float64),
                    }
                )
            A = _stack(xs)
            An = np.sqrt(np.einsum("ij,ij->i", A, A))
            j, s = _argmax_cosine(A, An, M, Mn)
            return pd.DataFrame({"centroid_id": ids[j], "score": s})

        return _assign_s

    if query_vec is None:

        @pandas_udf("struct<centroid_id: bigint>")
        def _assign(xs: pd.Series) -> pd.DataFrame:
            if len(xs) == 0:
                return pd.DataFrame({"centroid_id": np.empty(0, dtype=np.int64)})
            A = _stack(xs)
            An = np.sqrt(np.einsum("ij,ij->i", A, A))
            return pd.DataFrame({"centroid_id": ids[_argmax_cosine(A, An, M, Mn)[0]]})

        return _assign

    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    @pandas_udf("struct<centroid_id: bigint, qscore: double>")
    def _assign_q(xs: pd.Series) -> pd.DataFrame:
        if len(xs) == 0:
            return pd.DataFrame(
                {
                    "centroid_id": np.empty(0, dtype=np.int64),
                    "qscore": np.empty(0, dtype=np.float64),
                }
            )
        A = _stack(xs)
        An = np.sqrt(np.einsum("ij,ij->i", A, A))
        with np.errstate(divide="ignore", invalid="ignore"):
            qs = (A @ q) / (An * qn)
        return pd.DataFrame(
            {"centroid_id": ids[_argmax_cosine(A, An, M, Mn)[0]], "qscore": qs}
        )

    return _assign_q


def adaptive_sqrt_pow2(n: int, min_bits: int = 2, max_bits: int = 16) -> int:
    """Driver-side twin of ``similarity.adaptive_sqrt_pow2_case_sql``:
    the smallest 2^w (w ∈ [min_bits, max_bits]) with (2^w)² ≥ n — same
    integer boundaries, so a collected count reproduces the in-plan
    CASE exactly."""
    for w in range(max_bits, min_bits, -1):
        if n > 1 << (2 * (w - 1)):
            return 1 << w
    return 1 << min_bits


def collect_matrix(df, id_col: str, vec_col: str) -> tuple[list[int], np.ndarray]:
    """Collect (ids ascending, matrix) for a SMALL vector frame — the
    coarse quantizer (O(√N·dim)), never the corpus."""
    rows = df.select(id_col, vec_col).orderBy(id_col).collect()
    if not rows:
        raise ValueError("collect_matrix: empty centroid frame")
    ids = [int(r[0]) for r in rows]
    M = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return ids, M


def sign_band_signatures(
    all_planes, planes_per_band: int, n_bands: int
):
    """Banded sign-LSH signature kernel: ``vec → struct(s0..s{n-1})``
    in ONE Arrow pass — the vectorized replacement for the interpreted
    HOF sign-bit pipeline (``lsh_signature_sql``: n_planes × dim
    zip_with/aggregate lambda steps per row, measured as the embedding-
    LSH compositions' wall at replica scale, SCALING.md r9/r12).

    Same decisions as the HOF form: bit i of band b = (vec · plane >
    0), planes consumed in the identical order, packed little-endian
    into a BIGINT per band. Parity note: numpy's matmul sums pairwise
    while the HOF fold is left-associated — a sign can only differ if
    |dot| sits inside the last-ulp noise (~1e-16 relative), which is
    measurement-gated (collected-row equality at both oracle SFs and
    the replicas), the same empirical contract as the argmax
    assignment kernel."""
    P = np.asarray(all_planes, dtype=np.float64)
    if P.ndim != 2 or P.shape[0] != planes_per_band * n_bands:
        raise ValueError(
            f"sign_band_signatures: {P.shape} planes != "
            f"planes_per_band({planes_per_band}) × n_bands({n_bands})"
        )
    weights = (1 << np.arange(planes_per_band, dtype=np.int64))

    schema = ", ".join(f"s{b}: bigint" for b in range(n_bands))

    @pandas_udf(f"struct<{schema}>")
    def _sigs(xs: pd.Series) -> pd.DataFrame:
        if len(xs) == 0:
            return pd.DataFrame(
                {f"s{b}": np.empty(0, dtype=np.int64) for b in range(n_bands)}
            )
        X = _stack(xs)
        bits = (X @ P.T) > 0  # (n, n_planes), plane order preserved
        out = {}
        for b in range(n_bands):
            blk = bits[:, b * planes_per_band : (b + 1) * planes_per_band]
            out[f"s{b}"] = (blk.astype(np.int64) * weights[None, :]).sum(axis=1)
        return pd.DataFrame(out)

    return _sigs


def mu_quantize(y: np.ndarray) -> np.ndarray:
    """Bit-exact numpy emulation of Spark's ``CAST(round(y) AS BIGINT)``
    for double ``y`` (here ``y = CAST(vec[i] AS DOUBLE) * 1e6``).

    Spark's ``round`` on DOUBLE is BigDecimal HALF_UP applied to the
    SHORTEST-REPR decimal of the double (``BigDecimal.valueOf``), NOT
    IEEE rint: ``0.49999999999999994`` rounds to 0, while the classic
    ``floor(y + 0.5)`` trick yields 1 (the +0.5 sum rounds up to 1.0).
    Fast path: ``floor(y + 0.5)`` — exact whenever the fractional part
    is farther from .5 than the rounding error of the ``y + 0.5`` sum
    (≤ half the double spacing at y). The guard width is
    ``max(4e-9, 4·spacing(|y|))`` (r16 ADVICE): the fixed 4e-9 covers
    the µ-scale |y| ≲ 1e7 domain, and the spacing term keeps the
    contract sound for arbitrarily large magnitudes — above ~3.6e7 the
    double spacing exceeds 4e-9, where a fixed guard would let
    ``floor(y+0.5)`` silently disagree with BigDecimal HALF_UP.
    Near-half stragglers (measure-zero in real batches) take the exact
    slow path: ``Decimal(repr(y))`` HALF_UP — Python repr is the same
    shortest round-trip decimal as Java's ``Double.toString``, so the
    decision is identical. Pinned bit-equal to the SQL chain in
    test_vector_kernel.py."""
    from decimal import ROUND_HALF_UP, Decimal

    out = np.floor(y + 0.5).astype(np.int64)
    frac = y - np.floor(y)
    near_half = np.abs(frac - 0.5) < np.maximum(
        4e-9, 4.0 * np.spacing(np.abs(y))
    )
    if near_half.any():
        flat_y, flat_out = y.reshape(-1), out.reshape(-1)
        for idx in np.flatnonzero(near_half.reshape(-1)):
            flat_out[idx] = int(
                Decimal(repr(float(flat_y[idx]))).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
    return out


def moment_partials(df, vec_col: str, dim: int):
    """Per-dimension exact integer moments (n, Σq, Σq²) of a dense
    vector column in ONE Arrow pass — the kernel form of the
    ``dq_embedding_profile`` / ``embedding_variance_card``
    aggregation.  The expression form is correct but codegen-bound:
    64 element_at casts + 129 agg buffers per row put the cell at the
    whole-stage-codegen ceiling (r13/r14 watch item: 1.5-3.8 s
    oscillating with host JIT state).  Here each Arrow batch is one
    ``np.sum`` per moment and the plan is a pure map + a 64-group agg
    over #partitions×64 tiny partial rows.

    Exactness contract (unchanged): elements quantize to µ-scale
    int64 via ``mu_quantize`` (bit-equal to the SQL chain), partials
    accumulate in EXACT integers — Σq in int64 (|q| ≤ 1e7 ⇒ safe past
    1e11 rows/batch), Σq² per batch in int64 only when the batch
    bound ``rows·max(q²)`` proves it cannot overflow, else unbounded
    Python ints — and cross-partition sums ride DECIMAL(38,0), the
    r14 overflow-fix discipline (int64 Σq² dies at ~5e8 vectors).

    Returns a DataFrame (dim int, n bigint, s decimal(38,0),
    ss decimal(38,0)) with one row per dimension, already summed
    across partitions."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    def batches(it):
        for pdf in it:
            col = pdf[vec_col]
            if len(col) == 0:
                continue
            X = _stack(col).astype(np.float64)
            if X.shape[1] != dim:
                raise ValueError(
                    f"moment_partials: expected dim {dim}, got {X.shape[1]}"
                )
            Q = mu_quantize(X * 1e6)
            s = Q.sum(axis=0, dtype=np.int64)
            qmax = int(np.abs(Q).max())
            if len(Q) * (qmax * qmax) < (1 << 62):
                ss = [int(v) for v in (Q * Q).sum(axis=0, dtype=np.int64)]
            else:  # exact unbounded fallback for pathological batches
                ss = [
                    sum(int(q) * int(q) for q in Q[:, j]) for j in range(dim)
                ]
            yield pd.DataFrame(
                {
                    "dim": np.arange(1, dim + 1, dtype=np.int32),
                    "n": np.full(dim, len(Q), dtype=np.int64),
                    "s": [Decimal(int(v)) for v in s],
                    "ss": [Decimal(v) for v in ss],
                }
            )

    partials = df.select(vec_col).mapInPandas(
        batches, "dim int, n bigint, s decimal(38,0), ss decimal(38,0)"
    )
    return partials.groupBy("dim").agg(
        F.sum("n").alias("n"),
        F.sum("s").cast("decimal(38,0)").alias("s"),
        F.sum("ss").cast("decimal(38,0)").alias("ss"),
    )
